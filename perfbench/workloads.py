"""The benchmark's workloads, driving the engine only through its public
functions.

`serve`  — a warm, pinned, positional index answering a closed loop of
           single requests (the serve_single mix) with a batch call
           (search_many, search_many under fq + must/must_not,
           prefix_search_many, phrase_search_many in turn) after every five.
`ingest` — a positionless build, one filter artifact, one micro-batch with
           overwrites made visible (append, filter refresh, engine
           refresh), then read cycles on the refreshed index.

Both run with one client and emit every end-to-end metric. A traced run
adds a fixed probe pass (every request kind and batch method once, bare
operator calls, codec and expansion timings; compaction on `ingest`; a
write probe on `serve`) so that every per-layer metric exists on both
workloads.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import time
import traceback
from dataclasses import dataclass

import pyarrow
import pyspark
import pyspark.sql.functions as F

from liresolr_spark.api import LireQueryEngine
from liresolr_spark.functions.codec import decode_block, encode_block
from liresolr_spark.functions.tokenizer import py_tokenize
from liresolr_spark.operators import multiterm as M
from liresolr_spark.operators.wand import wand_topk, wand_topk_many
from liresolr_spark.plans.build import build_index, load_tombstones, read_meta
from liresolr_spark.plans.compact import compact_segments
from liresolr_spark.plans.filters import (build_filter_artifact,
                                          refresh_filter_artifacts)
from liresolr_spark.session import get_spark
from liresolr_spark.ship import ship_package
from liresolr_spark.streaming.ingest import append_segment

from perfbench import gen as G
from perfbench.oracle import Oracle, close, compare_topk
from perfbench.stats import median, median_count
from perfbench.trace import RssSampler, Tracer

SCHEMA = "repo string, path string, commit string, lang string, content string"
PROBE_FQ = G.Predicate("path", "src/dir1", prefix=True)
INGEST_FQ = G.Predicate("lang", "java")
INGEST_FILTER = "lang_java"
BUILD_STAGES = ["assign_doc_ids", "docstats", "postings_tf", "blocks",
                "manifest", "dictionary"]
EXPAND_KINDS = ["prefix", "wildcard", "fuzzy"]
# one serve loop cycle is the whole serve_single cycle (20 requests, every
# kind) with a batch call of each of the 4 batch kinds after every 5
SINGLES_PER_BATCH = len(G.SINGLE_CYCLE) // len(G.BATCH_KINDS)
# Nominal seconds of one serve loop cycle and one ingest read cycle on a
# 4-core host. A run does round(--seconds / nominal) cycles, at least one:
# a fixed amount of work per run, so a faster or slower host changes the
# timings, never what is timed.
SERVE_CYCLE_S = 13.0
INGEST_CYCLE_S = 5.0


def n_cycles(seconds: float, nominal: float) -> int:
    return max(1, round(seconds / nominal))


# every workload emits exactly these end-to-end metrics
E2E_METRICS = ["setup_s", "query_p50_ms", "query_qps", "batch_p50_ms",
               "batch_qps", "build_docs_per_s", "index_bytes_per_doc"]


@dataclass(frozen=True)
class Sizes:
    serve_docs: int = 600
    search_many: int = 200
    search_many_fq: int = 100
    prefix_many: int = 48
    phrase_many: int = 24
    write_probe_docs: int = 50
    ingest_docs: int = 600
    ingest_batch_docs: int = 60
    overwrite_share: float = 0.2
    ingest_read_batch: int = 60
    probe_batch: int = 16
    expand_samples: int = 8
    codec_blocks: int = 256


FULL = Sizes()
# the self-test smoke size: every phase runs, on a corpus small enough
# for a quick check that each metric is emitted
TINY = Sizes(serve_docs=120, search_many=16, search_many_fq=8, prefix_many=8,
             phrase_many=4, write_probe_docs=10,
             ingest_docs=120, ingest_batch_docs=20, ingest_read_batch=8,
             probe_batch=4, expand_samples=2, codec_blocks=32)


def dir_bytes(path: str) -> int:
    """Bytes of the index files under `path`. The build's metrics.json
    report is left out: it holds timings, so its size varies run to run."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f != "metrics.json":
                total += os.path.getsize(os.path.join(root, f))
    return total


class State:
    """What a correct answer is computed from at one point of a run: the
    docs the index's statistics count, the live keys (None = all) and
    whether phrases are answered from positions. The oracle is built on
    first use, after the timed phases."""

    def __init__(self, docs, tokenize, live=None, positional=True):
        self.docs, self.live, self.positional = docs, live, positional
        self._tokenize = tokenize
        self._oracle = None

    @property
    def live_docs(self) -> list:
        """Docs a read can return — where requests draw phrases from."""
        return [d for d in self.docs if self.live is None or d.key in self.live]

    @property
    def oracle(self) -> Oracle:
        if self._oracle is None:
            self._oracle = Oracle(self.docs, self._tokenize)
        return self._oracle


class Run:
    """One benchmark run: session, tracer, timings, deferred output checks."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool,
                 work_dir: str, cores: int, sizes: Sizes = FULL, log=print,
                 t_start: float | None = None):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.traced, self.work_dir, self.cores = traced, work_dir, cores
        self.sizes, self.log = sizes, log
        # set-up is timed from here (or from t_start, the process start)
        self.t_start = time.perf_counter() if t_start is None else t_start
        self.tracer = Tracer(enabled=traced)
        self.gen = G.Generator(seed)
        self.attempted = 0
        self.failures: list[str] = []
        self.checks: list = []  # (label, fn) run after the timed phases
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.env: dict = {}
        self.spark = None
        self.index_dir = os.path.join(work_dir, "index")
        self._dmap = None
        self._latencies: dict[str, list[float]] = {}

    # -- plumbing -------------------------------------------------------------

    def start_session(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", cores=self.cores,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # no JVM writes outside the run directory (UsePerfData
                # would write /tmp/hsperfdata_<user>)
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.path.join(self.work_dir, 'tmp')}"
                    " -XX:-UsePerfData",
                "spark.sql.warehouse.dir":
                    os.path.join(self.work_dir, "warehouse"),
            })
        self.spark.sparkContext.setLogLevel("ERROR")
        ship_package(self.spark)
        self.tracer.attach(self.spark)
        self.layer["session.start_s"] = (time.perf_counter() - t0, "s")
        self.env = {"cores": self.cores,
                    "driver_heap": os.environ.get("SPARK_DRIVER_MEM"),
                    "spark": pyspark.__version__,
                    "pyarrow": pyarrow.__version__}

    def frame(self, docs):
        return self.spark.createDataFrame([d.as_row() for d in docs], SCHEMA)

    def tokenize(self, s: str) -> list[str]:
        return py_tokenize(s)

    def mark(self, label: str) -> None:
        self.log(f"[{time.perf_counter() - self.t_start:7.1f}s] {label}")

    def fail(self, label: str, reason: str) -> None:
        self.failures.append(f"{label}: {reason}")
        self.log(f"FAILED {label}: {reason}")

    def call(self, name: str, fn):
        """Run one timed non-query operation (build, append, refresh, ...)
        as a single phase. Returns (op, result); result None on failure."""
        self.attempted += 1
        try:
            with self.tracer.op(name, name) as op:
                with self.tracer.phase(op, "exec"):
                    out = fn()
            return op, out
        except Exception:
            self.fail(name, traceback.format_exc(limit=3).strip().splitlines()[-1])
            return None, None

    def query(self, name: str, kind: str, plan, fixed=False):
        """Run one timed query: `plan()` returns the engine's DataFrame
        (plan phase), collecting it is the exec phase. Returns
        (op, rows); rows None on failure."""
        self.attempted += 1
        try:
            with self.tracer.op(name, kind) as op:
                op.fixed = fixed
                with self.tracer.phase(op, "plan"):
                    df = plan()
                with self.tracer.phase(op, "exec"):
                    rows = df.collect()
            return op, rows
        except Exception:
            self.fail(f"{name}[{kind}]",
                      traceback.format_exc(limit=3).strip().splitlines()[-1])
            return None, None

    # -- requests -------------------------------------------------------------

    def single(self, eng, req: G.Request, state: State, corpus_df=None,
               fixed=False):
        rows = G.ROWS
        if req.kind in ("prefix", "wildcard", "fuzzy"):
            method = {"prefix": "prefix_search", "wildcard": "wildcard_search",
                      "fuzzy": "fuzzy_search"}[req.kind]
            if req.kind == "fuzzy":
                plan = lambda: eng.fuzzy_search(  # noqa: E731
                    req.text, max_edits=req.max_edits, rows=rows)
            else:
                plan = lambda: getattr(eng, method)(req.text, rows=rows)  # noqa: E731
        elif req.kind == "phrase":
            method = "phrase_search"
            plan = lambda: eng.phrase_search(  # noqa: E731
                req.text, rows=rows, corpus=corpus_df)
        else:
            method = "search"
            plan = lambda: eng.search(  # noqa: E731
                text=req.text, fq=req.fq.sql if req.fq else None,
                must=req.must or None, must_not=req.must_not or None,
                start=req.start, rows=rows)
        op, out = self.query(f"api.{method}", req.kind, plan, fixed)
        if out is not None:
            got = [((r["repo"], r["path"], r["commit"]), r["score"]) for r in out]
            self.checks.append((f"{req.kind} {req.text!r}",
                                lambda: self.check_single(req, got, state)))
        return op, out

    def check_single(self, req: G.Request, got, state: State) -> str | None:
        o = state.oracle
        if req.kind == "phrase":
            if state.positional and state.live is None:
                return compare_topk(got, o.eligible(o.phrase_scores(req.text)),
                                    req.start, G.ROWS)
            # verify path over a corpus with deletes: every hit must
            # contain the phrase and be live, ranked by score
            for key, _ in got:
                if not o.contains_phrase(key, req.text):
                    return f"{key} does not contain {req.text!r}"
                if state.live is not None and key not in state.live:
                    return f"{key} is deleted"
            if [s for _, s in got] != sorted((s for _, s in got), reverse=True):
                return "hits not ranked by score"
            return None if got else "no hits for a phrase taken from the corpus"
        if req.kind in EXPAND_KINDS:
            terms = self.expand_oracle(o, req.kind, req.text, req.max_edits)
            mismatch = self.check_expansion(req.kind, req.text, req.max_edits,
                                            terms)
            if mismatch:
                return mismatch
            allowed = o.allowed(live=state.live)
        else:
            terms = self.tokenize(req.text) + list(req.must)
            allowed = o.allowed(live=state.live, fq=req.fq, must=req.must,
                                must_not=req.must_not)
        return compare_topk(got, o.eligible(o.scores(terms), allowed),
                            req.start, G.ROWS)

    @staticmethod
    def expand_oracle(o: Oracle, kind: str, text: str, max_edits: int):
        if kind == "prefix":
            return o.expand_prefix(text)
        if kind == "wildcard":
            return o.expand_wildcard(text)
        return o.expand_fuzzy(text, max_edits)

    def engine_expand(self, kind: str, text: str, max_edits: int):
        dmap = self.dictionary_map()
        if kind == "prefix":
            return M.expand_prefix(self.spark, self.index_dir, text,
                                   dictionary_map=dmap)
        if kind == "wildcard":
            return M.expand_wildcard(self.spark, self.index_dir, text,
                                     dictionary_map=dmap)
        return M.expand_fuzzy(self.spark, self.index_dir, text,
                              max_edits=max_edits, dictionary_map=dmap)

    def check_expansion(self, kind, text, max_edits, want) -> str | None:
        got = self.engine_expand(kind, text, max_edits)
        return None if got == want else f"expansion {got} != {want}"

    def dictionary_map(self):
        """{field: {term: df}} of the index's dictionary as it is now, read
        once (df summed over segment fragments, as the engine does)."""
        if self._dmap is None:
            d = (self.spark.read.parquet(f"{self.index_dir}/dictionary")
                 .groupBy("field", "term").agg(F.sum("df").alias("df")))
            self._dmap = {}
            for r in d.collect():
                self._dmap.setdefault(r["field"], {})[r["term"]] = int(r["df"])
        return self._dmap

    def batch(self, eng, kind: str, payload: dict, state: State,
              restriction=None, corpus_df=None, fixed=False):
        """One batch call; `payload` maps qid -> query text / prefix /
        phrase. Every qid is checked against the oracle."""
        rows = G.ROWS
        if kind == "search_many":
            plan = lambda: eng.search_many(payload, rows=rows)  # noqa: E731
        elif kind == "search_many_fq":
            fq, must, must_not = restriction
            plan = lambda: eng.search_many(  # noqa: E731
                payload, rows=rows, fq=fq.sql, must=must, must_not=must_not)
        elif kind == "prefix_search_many":
            plan = lambda: eng.prefix_search_many(payload, rows=rows)  # noqa: E731
        else:
            plan = lambda: eng.phrase_search_many(  # noqa: E731
                payload, rows=rows, corpus=corpus_df)
        method = "search_many" if kind.startswith("search_many") else kind
        op, out = self.query(f"api.{method}", kind, plan, fixed)
        if out is None:
            return op, None
        per: dict[str, list] = {q: [] for q in payload}
        for r in out:
            per[r["qid"]].append(((r["repo"], r["path"], r["commit"]), r["score"]))
        self.checks.append((f"{kind} x{len(payload)}", lambda: self.check_batch(
            kind, payload, per, state, restriction)))
        return op, per

    def check_batch(self, kind, payload, per, state: State, restriction):
        o = state.oracle
        for qid, text in payload.items():
            got = per[qid]
            if kind == "phrase_search_many":
                req = G.Request("phrase", text)
                err = self.check_single(req, got, state)
            elif kind == "prefix_search_many":
                terms = o.expand_prefix(text)
                err = self.check_expansion("prefix", text, 1, terms) or \
                    compare_topk(got, o.eligible(
                        o.scores(terms), o.allowed(live=state.live)), 0, G.ROWS)
            else:
                fq, must, must_not = restriction or (None, [], [])
                allowed = o.allowed(live=state.live, fq=fq, must=must,
                                    must_not=must_not)
                err = compare_topk(got, o.eligible(
                    o.scores(self.tokenize(text) + list(must)), allowed),
                    0, G.ROWS)
            if err:
                return f"qid {qid}: {err}"
        return None

    def check_equal(self, label, single_rows, batch_rows) -> None:
        """A batched qid must equal its single-request answer."""
        self.attempted += 1

        def fn():
            if single_rows is None or batch_rows is None:
                return "missing answer"
            single = [((r["repo"], r["path"], r["commit"]), r["score"])
                      for r in single_rows]
            if len(single) != len(batch_rows) or \
                    {k for k, _ in single} != {k for k, _ in batch_rows}:
                return f"batch {batch_rows[:2]}... != single {single[:2]}..."
            for (_, a), (_, b) in zip(single, batch_rows):
                if not close(a, b):
                    return f"batch score {b!r} != single {a!r}"
            return None
        self.checks.append((label, fn))

    # -- common metrics -------------------------------------------------------

    def op_summary(self) -> dict:
        """{op kind: (count, median wall ms)} over every timed operation."""
        by: dict[str, list[float]] = {}
        for op in self.tracer.ops:
            by.setdefault(op.kind, []).append(op.wall_ms)
        return {k: (len(v), median(v)) for k, v in by.items()}

    def record_build(self, op, metrics: dict, n_docs: int) -> None:
        p = self.index_dir
        self.e2e["build_docs_per_s"] = (n_docs / (op.wall_ms / 1000.0), "docs/s")
        for s in BUILD_STAGES:
            self.layer[f"build.stage_s.{s}"] = (
                float(metrics["stages"].get(s, 0.0)), "s")
        self.layer["build.jobs"] = (op.jobs, "count")
        for d in ("blocks", "docstats", "dictionary"):
            self.layer[f"build.bytes.{d}"] = (dir_bytes(f"{p}/{d}"), "B")

    def record_queries(self, singles: list, batches: list) -> None:
        """Query metrics of a closed loop with one client: medians of the
        single requests and batch calls, and their rates over the time
        spent in them."""
        lat = [op.wall_ms for op in singles]
        self.e2e["query_p50_ms"] = (median(lat), "ms")
        self.e2e["query_qps"] = (len(lat) / (sum(lat) / 1000.0), "1/s")
        blat = [op.wall_ms for op, _ in batches]
        self.e2e["batch_p50_ms"] = (median(blat), "ms")
        self.e2e["batch_qps"] = (
            sum(n for _, n in batches) / (sum(blat) / 1000.0), "queries/s")
        self._latencies = {"query": lat, "batch": blat}

    def latencies(self) -> dict[str, list[float]]:
        """The latency series (ms) the query metrics were computed from."""
        return self._latencies

    def record_layers(self) -> None:
        """Per-layer api/spark metrics per request kind, from the traced
        ops. Counts come from the fixed probe set (so they repeat exactly
        for a seed); timings are medians over every traced op of a kind."""
        kinds = ["text", "text_hot", "fq_cold", "fq_warm", "bool", "prefix",
                 "wildcard", "fuzzy", "phrase", "page"] + G.BATCH_KINDS
        for k in kinds:
            ops = [o for o in self.tracer.ops if o.kind == k and not o.failed]
            fixed = [o for o in ops if o.fixed]
            self.layer[f"api.plan_ms.{k}"] = (
                median(o.phase_ms["plan"] for o in ops), "ms")
            self.layer[f"api.exec_ms.{k}"] = (
                median(o.phase_ms["exec"] for o in ops), "ms")
            self.layer[f"spark.jobs.{k}"] = (
                median_count(o.jobs for o in fixed), "count")
            self.layer[f"spark.tasks.{k}"] = (
                median_count(o.tasks for o in fixed), "count")
            self.layer[f"spark.job_ms.{k}"] = (
                median(o.job_ms["exec"] for o in ops), "ms")
            self.layer[f"spark.driver_ms.{k}"] = (
                median(o.phase_ms["exec"] - o.job_ms["exec"] for o in ops), "ms")
        self.layer["trace.bookkeeping_ms"] = (
            self.tracer.bookkeeping_s * 1000.0, "ms")

    def record_ingest_ops(self, appends, visible_s, filter_ops, refresh_ops,
                          compact_op, bytes_rewritten) -> None:
        self.layer["ingest.append_s"] = (
            median(o.wall_ms / 1000.0 for o in appends), "s")
        self.layer["ingest.jobs_per_append"] = (
            median_count(o.jobs for o in appends), "count")
        self.layer["ingest.visible_s"] = (median(visible_s), "s")
        self.layer["filters.rebuild_ms"] = (
            median(o.wall_ms for o in filter_ops), "ms")
        self.layer["api.refresh_ms"] = (
            median(o.wall_ms for o in refresh_ops), "ms")
        self.layer["compact.jobs"] = (compact_op.jobs, "count")
        self.layer["compact.bytes_rewritten"] = (bytes_rewritten, "B")
        self.layer["compact.wall_s"] = (compact_op.wall_ms / 1000.0, "s")

    def new_bytes(self, before: dict) -> int:
        """Bytes of index files that did not exist in `before`."""
        return sum(size for f, size in self.files().items() if f not in before)

    def files(self) -> dict:
        out = {}
        for root, _d, fs in os.walk(self.index_dir):
            for f in fs:
                full = os.path.join(root, f)
                out[full] = os.path.getsize(full)
        return out

    # -- traced-only probes -------------------------------------------------

    def probe_kinds(self, eng, state: State, corpus_df=None) -> dict:
        """Every single kind once (fq cold then warm on a predicate no other
        request uses). Returns the probe requests by kind."""
        rng = random.Random(f"probe-{self.seed}")
        out = {}
        for kind in G.SINGLE_KINDS:
            req = self.gen.request(kind, rng, state.live_docs, self.tokenize)
            if kind == "fq":
                for label in ("fq_cold", "fq_warm"):
                    r = G.Request(label, req.text, fq=PROBE_FQ)
                    self.single(eng, r, state, corpus_df, fixed=True)
                continue
            self.single(eng, req, state, corpus_df, fixed=True)
            out[kind] = req
        return out

    def probe_operators(self, probes: dict, search_many: dict) -> None:
        """Bare wand_topk / wand_topk_many calls on the same index and the
        multi-term expansions, timed one by one."""
        meta = read_meta(self.index_dir)
        dmap = self.dictionary_map()
        blocks = self.spark.read.parquet(f"{self.index_dir}/blocks").cache()
        blocks.filter(F.col("field") == "text").count()
        t_ms, ratios = [], []
        for kind in ("text", "text_hot"):
            stats: dict = {}
            terms = self.tokenize(probes[kind].text)
            t0 = time.perf_counter()
            with self.tracer.span("operators.wand_topk"):
                wand_topk(self.spark, self.index_dir, terms, k=G.ROWS,
                          blocks_df=blocks, dictionary_map=dmap, meta=meta,
                          stats_out=stats).collect()
            t_ms.append((time.perf_counter() - t0) * 1000.0)
            if kind == "text_hot":
                ratios.append(stats["ranges_visited"].value
                              / max(stats["ranges_total"].value, 1))
        self.layer["wand.topk_ms"] = (median(t_ms), "ms")
        self.layer["wand.ranges_visited_ratio"] = (ratios[0], "ratio")
        queries = {q: self.tokenize(t) for q, t in search_many.items()}
        t0 = time.perf_counter()
        with self.tracer.span("operators.wand_topk_many"):
            wand_topk_many(self.spark, self.index_dir, queries, k=G.ROWS,
                           blocks_df=blocks, dictionary_map=dmap,
                           meta=meta).collect()
        self.layer["wand.topk_many_ms"] = (
            (time.perf_counter() - t0) * 1000.0, "ms")
        blocks.unpersist()

        rng = random.Random(f"expand-{self.seed}")
        docs = [self.gen.doc(0)]
        for kind in EXPAND_KINDS:
            ms, n = [], []
            for _ in range(self.sizes.expand_samples):
                req = self.gen.request(kind, rng, docs, self.tokenize)
                t0 = time.perf_counter()
                with self.tracer.span(f"operators.expand_{kind}"):
                    terms = self.engine_expand(kind, req.text, req.max_edits)
                ms.append((time.perf_counter() - t0) * 1000.0)
                n.append(len(terms))
            self.layer[f"multiterm.expand_ms.{kind}"] = (median(ms), "ms")
            self.layer[f"multiterm.expanded_terms.{kind}"] = (
                median_count(n), "count")

    def probe_codec(self) -> None:
        """decode_block / encode_block on a fixed sample of the index's
        text blocks, on the driver."""
        rows = (self.spark.read.parquet(f"{self.index_dir}/blocks")
                .filter(F.col("field") == "text")
                .orderBy("shard", "term", "block_seq")
                .select("docids", "tfs", "doclens", "count")
                .limit(self.sizes.codec_blocks).collect())
        blobs = [(bytes(r["docids"]), bytes(r["tfs"]), bytes(r["doclens"]))
                 for r in rows]
        n_post = sum(int(r["count"]) for r in rows)
        decoded = [decode_block(*b) for b in blobs]

        def rate(fn, args):
            reps, t0 = 0, time.perf_counter()
            while True:
                for a in args:
                    fn(*a)
                reps += 1
                el = time.perf_counter() - t0
                if el >= 0.3:
                    return reps * n_post / el

        with self.tracer.span("functions.codec.decode_block"):
            self.layer["codec.decode_postings_per_s"] = (
                rate(decode_block, blobs), "postings/s")
        with self.tracer.span("functions.codec.encode_block"):
            self.layer["codec.encode_postings_per_s"] = (
                rate(encode_block, decoded), "postings/s")

    # -- checks ---------------------------------------------------------------

    def run_checks(self) -> None:
        for label, fn in self.checks:
            try:
                err = fn()
            except Exception:
                err = traceback.format_exc(limit=3).strip().splitlines()[-1]
            if err:
                self.fail(label, err)
        self.checks = []


def serve(run: Run) -> None:
    sz = run.sizes
    docs = run.gen.corpus(sz.serve_docs)
    corpus_df = run.frame(docs)

    op, m = run.call("plans.build_index", lambda: build_index(
        corpus_df, run.index_dir, num_shards=run.cores, block_size=128,
        with_positions=True))
    if op is None:
        raise RuntimeError("index build failed")
    run.record_build(op, m, len(docs))
    run.mark("build done")
    run.e2e["index_bytes_per_doc"] = (dir_bytes(run.index_dir) / len(docs), "B")
    op, eng = run.call("api.open", lambda: LireQueryEngine(
        run.spark, run.index_dir, pin_blocks=True))
    if op is None:
        raise RuntimeError("engine open failed")
    run.layer["api.open_s"] = (op.wall_ms / 1000.0, "s")
    state = State(docs, run.tokenize)

    # warm-up: one text request (fills the pinned caches and starts the
    # Python workers) and one request under the shared batch restriction
    # (its fq is none of the 48 scheduled predicates, so those stay cold
    # until the loop first uses them). Warm answers, and the loop's first
    # prefix and phrase answers, are the single-request references of the
    # batch calls.
    rng = random.Random(f"warm-{run.seed}")
    shared = run.gen.batch_restriction()
    text = run.gen.request("text", rng, docs, run.tokenize).text
    refs = {"search_many": G.Request("warmup", text),
            "search_many_fq": G.Request("warmup", text, fq=shared[0],
                                        must=shared[1], must_not=shared[2])}
    ref_rows = {}
    for kind, req in refs.items():
        _, ref_rows[kind] = run.single(eng, req, state)
    run.e2e["setup_s"] = (time.perf_counter() - run.t_start, "s")
    run.mark("setup done")

    # timed closed loop: the single-request schedule, with one batch call
    # after every SINGLES_PER_BATCH singles and the four batch kinds in
    # turn, for n_cycles(--seconds) whole batch cycles. Each batch carries
    # its single-request reference as qid "ref"; the loop's first prefix
    # and phrase requests are the references of the prefix and phrase
    # batches, and they always run before those batches do.
    payload_fn = {
        "search_many": lambda c: run.gen.batch_texts(sz.search_many, f"b{c}"),
        "search_many_fq": lambda c: run.gen.batch_texts(sz.search_many_fq,
                                                        f"f{c}"),
        "prefix_search_many": lambda c: run.gen.batch_prefixes(
            sz.prefix_many, f"p{c}"),
        "phrase_search_many": lambda c: run.gen.batch_phrases(
            sz.phrase_many, f"h{c}", docs, run.tokenize),
    }
    n_batches = len(G.BATCH_KINDS) * n_cycles(run.seconds, SERVE_CYCLE_S)
    schedule = iter(run.gen.single_schedule(
        n_batches * SINGLES_PER_BATCH, docs, run.tokenize))
    singles, batches, first_payload = [], [], None
    for n_batch in range(n_batches):
        for _ in range(SINGLES_PER_BATCH):
            req = next(schedule)
            op, out = run.single(eng, req, state)
            if op is not None:
                singles.append(op)
            for kind, batch_kind in (("prefix", "prefix_search_many"),
                                     ("phrase", "phrase_search_many")):
                if req.kind == kind and batch_kind not in refs:
                    refs[batch_kind], ref_rows[batch_kind] = req, out
        kind = G.BATCH_KINDS[n_batch % len(G.BATCH_KINDS)]
        cycle = n_batch // len(G.BATCH_KINDS)
        payload = dict(payload_fn[kind](cycle), ref=refs[kind].text)
        first_payload = first_payload or payload
        op, per = run.batch(eng, kind, payload, state,
                            restriction=shared if kind == "search_many_fq"
                            else None, fixed=cycle == 0)
        if op is not None:
            batches.append((op, len(payload)))
            run.check_equal(f"{kind} ref", ref_rows[kind],
                            per["ref"] if per else None)
    run.record_queries(singles, batches)
    run.mark("loop done")

    if run.traced:
        probes = run.probe_kinds(eng, state)
        run.probe_operators(probes, first_payload)
        run.probe_codec()
    run.run_checks()
    run.mark("checks done")
    if run.traced:
        _write_probe(run, eng, docs)
        run.record_layers()


def _write_probe(run: Run, eng, docs) -> None:
    """Traced serve only: one filter artifact, one clean append made
    visible, one compaction — so the write-path layers are measured on the
    positional layout too."""
    n = len(docs)
    extra = [run.gen.doc(i) for i in range(n, n + run.sizes.write_probe_docs)]
    run.call("plans.build_filter_artifact", lambda: build_filter_artifact(
        run.spark, run.index_dir, INGEST_FILTER, INGEST_FQ.sql))
    df = run.frame(extra)
    a_op, _ = run.call("streaming.append_segment",
                       lambda: append_segment(df, run.index_dir))
    f_op, _ = run.call("plans.refresh_filter_artifacts",
                       lambda: refresh_filter_artifacts(run.spark, run.index_dir))
    r_op, _ = run.call("api.refresh", eng.refresh)
    before = run.files()
    c_op, _ = run.call("plans.compact_segments", lambda: compact_segments(
        run.spark, run.index_dir, min_segments=1))
    r2_op, _ = run.call("api.refresh", eng.refresh)
    ops = [a_op, f_op, r_op, c_op, r2_op]
    if any(o is None for o in ops):
        return
    run.record_ingest_ops([a_op], [(a_op.wall_ms + f_op.wall_ms + r_op.wall_ms)
                                   / 1000.0], [f_op], [r_op, r2_op], c_op,
                          run.new_bytes(before))


def ingest(run: Run) -> None:
    sz = run.sizes
    base = run.gen.corpus(sz.ingest_docs)
    batch = run.gen.append_batches(sz.ingest_docs, 1, sz.ingest_batch_docs,
                                   sz.overwrite_share)[0]
    base_df, batch_df = run.frame(base), run.frame(batch)
    run.e2e["setup_s"] = (time.perf_counter() - run.t_start, "s")

    op, m = run.call("plans.build_index", lambda: build_index(
        base_df, run.index_dir, num_shards=run.cores, block_size=128,
        with_positions=False))
    if op is None:
        raise RuntimeError("index build failed")
    run.record_build(op, m, len(base))
    run.mark("build done")
    run.call("plans.build_filter_artifact", lambda: build_filter_artifact(
        run.spark, run.index_dir, INGEST_FILTER, INGEST_FQ.sql))
    op, eng = run.call("api.open", lambda: LireQueryEngine(
        run.spark, run.index_dir, pin_blocks=True))
    if op is None:
        raise RuntimeError("engine open failed")
    run.layer["api.open_s"] = (op.wall_ms / 1000.0, "s")

    # the micro-batch becomes visible: append, filter refresh, reopen
    a_op, _ = run.call("streaming.append_segment",
                       lambda: append_segment(batch_df, run.index_dir))
    f_op, _ = run.call("plans.refresh_filter_artifacts",
                       lambda: refresh_filter_artifacts(run.spark, run.index_dir))
    r_op, _ = run.call("api.refresh", eng.refresh)
    if None in (a_op, f_op, r_op):
        raise RuntimeError("append failed")
    visible_s = (a_op.wall_ms + f_op.wall_ms + r_op.wall_ms) / 1000.0
    run.mark("append visible")
    indexed = base + batch
    latest = {(d.repo, d.path): d for d in indexed}
    live = {d.key for d in latest.values()}
    state = State(indexed, run.tokenize, live, positional=False)

    # timed closed loop of reads, starting on the caches the refresh
    # dropped and going through the tombstone deny-list: text, fq (the
    # artifact's predicate) and bool requests and one search_many per
    # cycle, for n_cycles(--seconds) cycles
    rng = random.Random(f"ingest-reads-{run.seed}")
    singles, batch_ops = [], []

    def read_cycle(state: State, label: str) -> None:
        for kind in ("text", "fq", "bool"):
            req = run.gen.request(kind, rng, state.live_docs, run.tokenize)
            if kind == "fq":
                req.fq = INGEST_FQ
            op, _ = run.single(eng, req, state)
            if op is not None:
                singles.append(op)
        payload = run.gen.batch_texts(sz.ingest_read_batch, label)
        op, _ = run.batch(eng, "search_many", payload, state)
        if op is not None:
            batch_ops.append((op, len(payload)))

    for cycle in range(n_cycles(run.seconds, INGEST_CYCLE_S)):
        read_cycle(state, f"r{cycle}")
    run.mark("reads done")
    run.e2e["index_bytes_per_doc"] = (dir_bytes(run.index_dir) / len(live), "B")
    run.record_queries(singles, batch_ops)
    # the reads and the post-append contents, checked before a traced run
    # compacts the index
    run.attempted += 1
    run.checks.append(("index contents after the append",
                       lambda: _check_contents(run, latest, indexed)))
    run.run_checks()

    if run.traced:
        # compaction, then one read cycle and the contents check on the
        # compacted index, then the probe pass
        before = run.files()
        c_op, _ = run.call("plans.compact_segments", lambda: compact_segments(
            run.spark, run.index_dir, min_segments=1))
        r2_op, _ = run.call("api.refresh", eng.refresh)
        if None in (c_op, r2_op):
            raise RuntimeError("compaction failed")
        bytes_rewritten = run.new_bytes(before)
        stats_docs = base + [d for d in batch if d.key in live]
        state = State(stats_docs, run.tokenize, live, positional=False)
        read_cycle(state, "c")
        run.attempted += 1
        run.checks.append(("index contents after compaction",
                           lambda: _check_contents(run, latest, stats_docs)))
        corpus_df = run.frame(stats_docs)
        probes = run.probe_kinds(eng, state, corpus_df)
        sample = run.gen.batch_texts(sz.probe_batch, "q")
        run.batch(eng, "search_many", sample, state, fixed=True)
        shared = run.gen.batch_restriction()
        run.batch(eng, "search_many_fq", run.gen.batch_texts(sz.probe_batch, "qf"),
                  state, restriction=shared, fixed=True)
        run.batch(eng, "prefix_search_many",
                  run.gen.batch_prefixes(sz.probe_batch, "q"), state, fixed=True)
        run.batch(eng, "phrase_search_many", run.gen.batch_phrases(
            max(2, sz.probe_batch // 4), "q", state.live_docs, run.tokenize),
            state, corpus_df=corpus_df, fixed=True)
        run.probe_operators(probes, sample)
        run.probe_codec()
        run.record_ingest_ops([a_op], [visible_s], [f_op], [r_op, r2_op],
                              c_op, bytes_rewritten)
    run.run_checks()
    run.mark("checks done")
    if run.traced:
        run.record_layers()


def _check_contents(run: Run, latest: dict, stats_docs) -> str | None:
    """Live-doc count, each live row's commit and sha256(content) against
    the input, and the doc count the index statistics use."""
    ds = run.spark.read.parquet(f"{run.index_dir}/docstats")
    tombs = load_tombstones(run.spark, run.index_dir)
    live_rows = ds if tombs is None else ds.join(
        tombs.select("docID").distinct(), "docID", "left_anti")
    got = {(r["repo"], r["path"]): (r["commit"], r["sha256"])
           for r in live_rows.select("repo", "path", "commit", "sha256")
           .collect()}
    if len(got) != len(latest):
        return f"{len(got)} live docs, expected {len(latest)}"
    for key, d in latest.items():
        want = (d.commit, hashlib.sha256(d.content.encode()).hexdigest())
        if got.get(key) != want:
            return f"live row {key} is {got.get(key)}, expected {want}"
    n = read_meta(run.index_dir).n_docs
    if n != len(stats_docs):
        return f"meta n_docs {n}, expected {len(stats_docs)}"
    if ds.agg(F.count("*")).first()[0] != len(stats_docs):
        return "docstats rows differ from the indexed doc count"
    return None


WORKLOADS = {"serve": serve, "ingest": ingest}


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run_workload(run: Run) -> None:
    cpu0 = _cpu_times()
    # the RSS sampler's thread runs in traced runs only, so it costs the
    # timed runs nothing
    with RssSampler() if run.traced else contextlib.nullcontext() as rss:
        run.start_session()
        WORKLOADS[run.workload](run)
    if run.traced:
        run.layer["process.peak_rss_mb"] = (rss.peak / 2**20, "MB")
    # share of the host's CPU time taken by other guests while this run
    # wanted it (the "steal" column of /proc/stat): context for the timings
    d = [b - a for a, b in zip(cpu0, _cpu_times())]
    busy = sum(d) - d[3] - d[4]  # minus idle and iowait
    run.env["cpu_steal_share"] = round(d[7] / busy, 3) if busy else 0.0
