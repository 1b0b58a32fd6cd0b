"""The repository benchmark: seeded workloads against the engine's public
entry points, every operation checked against an oracle.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process drives Spark on
``local[<nproc>]`` as a single client in a closed loop: the next
operation starts when the previous one has returned.

Workloads (BENCHMARK.json records why each exists):

Both start from the index of one fixed corpus, which the first run of a
checkout builds with ``IndexSink.build`` and later runs reuse
(``Bench._base_index``); a traced ingest run also builds the corpus
after its fold, so the build layers are measured. The workload seed
drives everything else.

Set-up (``setup_s``) is the median of three rounds of session start,
corpus write, index open and a warm-up query that no measured operation
repeats. See ``Bench.setup``.

- ``ingest``: fold cycles on a private copy of the index: a seeded
  delta of edited and new files lands in the input directory and goes
  through ``incremental_index_stream`` and ``compact_into_index``. After
  each fold the index is verified and a check set of queries runs on it.
- ``query``: shuffled rounds of the 25 reference queries through
  ``blocks_for_terms`` →
  ``bm25_topk_blocks``, every sixth operation a phrase query through
  ``phrase_topk_blocks``, then one ``bm25_topk_batch`` job over an
  eval suite (the 25 plus Zipf-drawn queries).

Correctness: BM25 results (single and batch) must equal an
``OracleIndex`` over the live corpus in rank and float64 score; phrase
results must equal the phrase oracle (perfbench.phrase_oracle), which the
traced run checks against the engine's ``phrase_topk_df`` twin;
``sink.verify()`` must be clean after every build and fold. Any
mismatch or exception is a failed operation.

Output: human-readable lines, then, as the last line, one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones. With ``--trace 1`` spans are on and the
metrics are the per-layer ones (perfbench.layers); the log lines still
show the traced run's end-to-end figures, and ``trace.overhead_s`` is
the median traced minus untraced single-query latency, from interleaved
pairs in the same run: the cost of spans and job groups. The Spark event
log stays on for both halves, so its cost is not in that figure; compare
a traced run's log lines with an untraced run's for it. The spans are
written to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(1, os.path.join(ROOT, "tools"))  # analyze_eventlog's parser

from search_engine_spark import constants as C  # noqa: E402
from search_engine_spark import query as Q  # noqa: E402
from search_engine_spark.corpus import generate_corpus_pdf, with_doc_id  # noqa: E402
from search_engine_spark.index import build_index_frames, corpus_stats  # noqa: E402
from search_engine_spark.oracle import OracleIndex  # noqa: E402
from search_engine_spark.session import build_session  # noqa: E402
from search_engine_spark.sink import IndexSink, read_manifest, wtf_scale_of  # noqa: E402
from search_engine_spark.streaming import compact_into_index, incremental_index_stream  # noqa: E402

from perfbench import inputs, layers  # noqa: E402
from perfbench.host import HostStamp, TreeRssSampler, stop_spark  # noqa: E402
from perfbench.phrase_oracle import phrase_topk  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402

# per process, removed when the run ends
WORK = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
CACHE = os.path.join(ROOT, ".perfbench_cache")  # the base index, reused across runs
OUT = os.path.join(ROOT, ".perfbench_out")  # span dumps of traced runs

N_DOCS = 2000
N_BUCKETS = 4
URL_COLS = ("repo", "path")
CORPUS_SEED = C.SEED  # the corpus is fixed so its index can be reused
DELTA_EDITS, DELTA_NEW = 40, 10  # 2.5% of the corpus per fold, 80% edits
CHECK_SINGLES = 1  # single queries after each fold, besides the ref25 batch
EVAL_EXTRA = 25  # zipf queries added to the ref25 in the batch suite
N_PHRASES = 3
PHRASE_EVERY = 6
DRIVER_MEM = "1g"  # pinned: both sides of a comparison get the same heap
# The C1 compiler only: a run is too short for C2 to finish. With C2, a
# single query kept getting faster over the first ~25 queries of a run
# (1.4 s down to 0.7-0.9 s on a 4-core VM), so the measured loop sat on
# that slope and how far down it got followed host load (quartile spread
# of the query median over five seeds: 0.31). With C1 only, latency is
# flat at ~1.1 s from the first measured query, and a cold fold takes
# 33-35 s instead of 38-39 s.
JIT_OPTS = "-XX:TieredStopAtLevel=1"
SETUP_ROUNDS = 3  # setup_s is the median round; only the first launches the JVM
# one warm-up query per set-up round, none of them measured (the first is bench.py's)
WARM_QUERIES = ("warmup query def", "class self const", "static void let")


def _pin_environment(trace: bool) -> None:
    """Everything the run writes stays under the checkout, and Spark's
    Python workers import the engine from it."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")  # wins over spark.local.dir
    os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG"] = os.path.join(WORK, "eventlog")


def _engine_key() -> str:
    """Hash of the engine source and the index parameters: a cached index
    is reused only by the code and settings that built it."""
    h = hashlib.sha256(repr((N_DOCS, N_BUCKETS, URL_COLS, CORPUS_SEED)).encode())
    src = os.path.join(ROOT, "search_engine_spark")
    for d, dirs, files in sorted(os.walk(src)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                h.update(os.path.relpath(os.path.join(d, f), src).encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _tail(xs) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, i.e. sorted sample n-11 of n; the maximum (p100)
    when there are fewer than 11 samples."""
    s = sorted(xs)
    i = len(s) - 11 if len(s) >= 11 else len(s) - 1
    return 100.0 * (i + 1) / len(s), s[i]


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer(None, enabled=trace)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.phase: dict[str, float] = defaultdict(float)
        self.spark = None
        self.next_cycle = 0
        self.build_s = None  # set when this run built the index
        self.peak_rss_mb = 0.0  # set once the process tree has stopped

    # -- bookkeeping ------------------------------------------------------------

    def _check(self, kind: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{kind}: {detail}")

    def _op(self, kind: str, call) -> None:
        """One checked operation. ``call`` returns (seconds, ok, detail);
        the seconds cover the engine calls only, never the check."""
        try:
            dt, ok, detail = call()
        except Exception:  # an engine exception is a failed operation, not a crash
            self._check(kind, False, "raised\n" + traceback.format_exc())
            return
        self._check(kind, ok, detail)
        self.samples[kind].append(dt)

    # -- set-up -------------------------------------------------------------------

    def setup(self) -> None:
        """SETUP_ROUNDS set-up rounds; ``setup_s`` is the median round.

        A round gets the Spark session (the first round launches the JVM
        and starts the SparkContext, later rounds get the running one
        back from ``build_session``), writes the corpus, opens the index
        (``IndexSink.read``) and runs one warm-up query. A round's time
        leaves out the build that fills the index cache and the verify
        checks. On query, a warm-up phrase query follows the rounds (the
        log's ``warmup`` phase) and then the oracle; ingest makes the
        oracle after each fold."""
        rounds = []
        for r in range(SETUP_ROUNDS):
            excluded = self.phase["build"] + self.phase["verify"]
            t0 = time.perf_counter()
            self._setup_round(r)
            excluded = self.phase["build"] + self.phase["verify"] - excluded
            rounds.append(time.perf_counter() - t0 - excluded)
        self.setup_rounds = rounds
        self.setup_s = statistics.median(rounds)
        self.phrase_list = inputs.phrases(self.seed, self.base, N_PHRASES)
        self.suite = (self.check_suite() if self.workload == "ingest" else
                      inputs.eval_suite(CORPUS_SEED, inputs.vocabulary(self.base), EVAL_EXTRA))
        if self.workload == "query":
            t0 = time.perf_counter()
            self._warmup(lambda: self._phrase_call(" ".join(self.base["content"].iloc[0].split()[:2])))
            self.phase["warmup"] = time.perf_counter() - t0
            self._oracle()

    def _setup_round(self, r: int) -> None:
        round_dir = os.path.join(WORK, f"setup-{r}")
        shutil.rmtree(os.path.join(WORK, f"setup-{r - 1}"), ignore_errors=True)
        with self.tracer.span("session.start", op=True):
            self.spark = build_session(
                self.cores, "perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                    "spark.driver.extraJavaOptions": (
                        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} {JIT_OPTS}"),
                    "spark.eventLog.compress": "false",
                },
            )
        self.tracer.sc = self.spark.sparkContext
        with self.tracer.span("corpus.generate", op=True):
            self.base = self.live = generate_corpus_pdf(N_DOCS, seed=CORPUS_SEED)
            self.corpus_dir = os.path.join(round_dir, "corpus")
            os.makedirs(self.corpus_dir)
            inputs.write_parquet(self.base, os.path.join(self.corpus_dir, "part-0.parquet"))
        if self.workload == "query":  # reads the shared index in place
            self.index_root = self._base_index()
        else:  # folds write: a private copy
            self.index_root = os.path.join(round_dir, "index")
            shutil.copytree(self._base_index(), self.index_root)
        self.sink = IndexSink(self.index_root, n_buckets=N_BUCKETS)
        self._refresh()
        self._warmup(lambda: self._single_call(WARM_QUERIES[r % len(WARM_QUERIES)]))

    def _warmup(self, call) -> None:
        """An engine call before the measured loop, untraced and on
        inputs no measured operation uses (bench.py's warm-up query and
        its like, a phrase from the first document), so JIT, Python
        workers and parquet readers are warm when the loop starts. Folds
        and the batch job get no warm-up: it would cost as much as their
        measured twin, and a run must stay short enough to be repeated
        tens of times per comparison (see run_ingest)."""
        self.tracer.enabled = False
        try:
            call()
        finally:
            self.tracer.enabled = self.trace

    def _build(self, corpus_dir: str, root: str) -> bool:
        """Build the index at ``root``; True when committed and verified."""
        t0 = time.perf_counter()
        with self.tracer.span("sink.build", op=True):
            res = IndexSink(root, n_buckets=N_BUCKETS).build(
                self.spark.read.parquet(corpus_dir), buckets_per_wave=N_BUCKETS,
                url_cols=URL_COLS)
        self.build_s = time.perf_counter() - t0
        self.phase["build"] += self.build_s
        committed = res["status"] == "committed"
        self._check("build", committed, str(res.get("status")))
        return self._verify(IndexSink(root, n_buckets=N_BUCKETS)) and committed

    def _base_index(self) -> str:
        """The corpus's index, built and verified by the first run of a
        checkout (or of a changed engine source) and reused by later runs:
        the query workload reads it in place, the ingest workload folds
        into a copy and verifies after every fold. One cache entry per
        engine key, so runs of two engine versions in one checkout do not
        evict each other. The filling build is untraced and left out of
        ``setup_s``; its rate is the log line ``build_files_per_s``."""
        root = os.path.join(CACHE, f"index-{_engine_key()}")
        if not os.path.isdir(root):
            tmp = os.path.join(WORK, "index-build")
            shutil.rmtree(tmp, ignore_errors=True)
            self.tracer.enabled = False
            try:
                built = self._build(self.corpus_dir, tmp)
            finally:
                self.tracer.enabled = self.trace
            if not built:
                return tmp  # a failed build is used once, never cached
            os.makedirs(CACHE, exist_ok=True)
            os.replace(tmp, root)
        return root

    def _verify(self, sink) -> bool:
        t0 = time.perf_counter()
        try:
            with self.tracer.span("sink.verify", op=True):
                bad = sink.verify(self.spark)
            self._check("verify", not bad, f"buckets {bad} fail verify")
        except Exception:
            bad = None
            self._check("verify", False, "raised\n" + traceback.format_exc())
        self.phase["verify"] += time.perf_counter() - t0
        return bad == []

    def _refresh(self) -> None:
        self.blocks, self.tstats, _d, meta = self.sink.read(self.spark)
        self.N, self.avgdl, self.wtf = meta["N"], meta["avgdl"], wtf_scale_of(meta)

    def _oracle(self) -> None:
        """Untimed: the oracle over the live corpus, keyed by the engine's
        doc-id function (applied by Spark to the corpus rows)."""
        t0 = time.perf_counter()
        with self.tracer.span("bench.oracle", op=True):
            ids = with_doc_id(self.spark.createDataFrame(self.live)).select("doc_id", "repo", "path")
            live = self.live.merge(ids.toPandas(), on=["repo", "path"], how="left")
            rows = list(zip(live["doc_id"].tolist(), (live["repo"] + "/" + live["path"]).tolist(),
                            live["content"].tolist()))
            self.oracle = OracleIndex(rows)
            self.texts = {d: (url, content) for d, url, content in rows}
            self.expected: dict = {}
        self.phase["oracle"] += time.perf_counter() - t0
        self._check("corpus_stats",
                    self.oracle.N == self.N and abs(self.oracle.avgdl - self.avgdl) < 1e-9,
                    f"index N/avgdl {self.N}/{self.avgdl} vs oracle {self.oracle.N}/{self.oracle.avgdl}")

    def _expect(self, q: str) -> list:
        if q not in self.expected:
            self.expected[q] = self.oracle.query(q, k=C.TOP_K)
        return self.expected[q]

    def _expect_phrase(self, p: str) -> list:
        key = ("phrase", p)
        if key not in self.expected:
            self.expected[key] = phrase_topk(self.oracle, self.texts, Q.normalize_phrase(p), k=C.TOP_K)
        return self.expected[key]

    # -- engine calls (timed) -------------------------------------------------------

    def _single_call(self, q: str) -> tuple[float, list]:
        tr = self.tracer
        with tr.span("query.single", op=True, query=q):
            t0 = time.perf_counter()
            terms, _w = Q.normalize_query(q)
            with tr.span("sink.blocks_for_terms"):
                idx = self.sink.blocks_for_terms(self.spark, terms) if terms else self.blocks
            with tr.span("query.plan"):
                df = Q.bm25_topk_blocks(idx, self.tstats, self.N, self.avgdl, q,
                                        k=C.TOP_K, wtf_scale=self.wtf)
            with tr.span("query.exec"):
                rows = df.collect()
            dt = time.perf_counter() - t0
        return dt, [(r["doc_id"], r["score"]) for r in rows]

    def _phrase_call(self, p: str) -> tuple[float, list]:
        tr = self.tracer
        with tr.span("query.phrase", op=True, phrase=p):
            t0 = time.perf_counter()
            terms = Q.normalize_phrase(p)
            with tr.span("sink.blocks_for_terms"):
                idx = self.sink.blocks_for_terms(self.spark, sorted(set(terms)))
            with tr.span("query.phrase_plan"):
                df = Q.phrase_topk_blocks(idx, self.tstats, self.N, self.avgdl, phrase=p, k=C.TOP_K)
            with tr.span("query.phrase_exec"):
                rows = df.collect()
            dt = time.perf_counter() - t0
        return dt, [tuple(r) for r in rows]

    def _batch_call(self, suite: dict[str, str]) -> tuple[float, dict]:
        tr = self.tracer
        with tr.span("query.batch", op=True, n_queries=len(suite)) as sp:
            t0 = time.perf_counter()
            terms = sorted({t for q in suite.values() for t in Q.normalize_query(q)[0]})
            sp["terms"] = terms
            with tr.span("sink.blocks_for_terms"):
                idx = self.sink.blocks_for_terms(self.spark, terms)
            with tr.span("query.batch_plan"):
                df = Q.bm25_topk_batch(idx, self.tstats, self.N, self.avgdl, suite,
                                       k=C.TOP_K, wtf_scale=self.wtf)
            with tr.span("query.batch_exec"):
                rows = df.collect()
            dt = time.perf_counter() - t0
        got: dict[str, list] = defaultdict(list)
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got[r["query_id"]].append((r["doc_id"], r["score"]))
        return dt, got

    # -- checked operations -----------------------------------------------------------

    def single(self, q: str) -> None:
        def call():
            dt, got = self._single_call(q)
            return dt, got == self._expect(q), f"{q!r} differs from the oracle"

        self._op("single", call)

    def phrase(self, p: str) -> None:
        def call():
            dt, got = self._phrase_call(p)
            return dt, got == self._expect_phrase(p), f"phrase {p!r} differs from the oracle"

        self._op("phrase", call)

    def batch(self, suite: dict[str, str]) -> None:
        def call():
            dt, got = self._batch_call(suite)
            bad = [qid for qid, q in suite.items() if got.get(qid, []) != self._expect(q)]
            return dt, not bad, f"batch queries {bad} differ from the oracle"

        self._op("batch", call)

    def fold_cycle(self) -> None:
        """Land one delta, stream it into the store, fold it into the
        index; freshness runs from the landing to the fold's return."""
        cycle, tr = self.next_cycle, self.tracer
        self.next_cycle += 1
        d = inputs.delta(self.seed, cycle, self.base, DELTA_EDITS, DELTA_NEW)
        in_dir, store = os.path.join(WORK, "incoming"), os.path.join(WORK, "store")
        os.makedirs(in_dir, exist_ok=True)

        def call():
            with tr.span("streaming.cycle", op=True,
                         delta_bytes=int(d["content"].str.len().sum())) as sp:
                with tr.span("streaming.land"):
                    inputs.write_parquet(d, os.path.join(in_dir, f"delta-{cycle:03d}.parquet"))
                landed = time.perf_counter()
                with tr.span("streaming.ingest"):
                    q = incremental_index_stream(self.spark, in_dir, store,
                                                 os.path.join(WORK, "checkpoint"), url_cols=URL_COLS)
                    done = q.awaitTermination(120)
                    if not done:
                        q.stop()
                    err = q.exception()
                with tr.span("streaming.fold"):
                    res = compact_into_index(self.spark, self.sink, store)
                dt = time.perf_counter() - landed
                sp.update(touched_buckets=len(res["touched_buckets"]),
                          n_new_docs=res["n_new_docs"], n_retired=res["n_retired"])
            ok = (done and err is None and res["status"] == "compacted"
                  and res["n_new_docs"] == len(d) and res["n_retired"] == DELTA_EDITS)
            return dt, ok, f"fold {cycle}: stream done={done} err={err} result={res}"

        self._op("fold", call)
        self.live = inputs.upsert(self.live, d)
        self._verify(self.sink)
        self._refresh()
        self._oracle()

    # -- workloads ----------------------------------------------------------------------

    @staticmethod
    def check_suite() -> dict[str, str]:
        """The batch run after every fold: the 25 reference queries."""
        return {f"ref{i:02d}": q for i, q in enumerate(inputs.ref_queries(), 1)}

    def run_ingest(self) -> None:
        """Fold cycles until ``seconds`` of fold time are measured (at
        least one), each followed by its check set. Set-up warms queries,
        not folds: a fold's cost is mostly fixed Spark job overhead (a
        one-file delta took 36 s cold, a 50-file one 26 s warm), so a
        warm-up fold would double the run. The first fold of a run is
        therefore timed cold, and with ``seconds`` below a fold's time it
        is the only one."""
        measured = 0.0
        while True:
            n, cycle = len(self.samples["fold"]), self.next_cycle
            self.fold_cycle()
            if len(self.samples["fold"]) == n:  # the fold raised: stop, do not spin
                return
            measured += self.samples["fold"][-1]
            for q in inputs.query_stream(self.seed + cycle, 1)[:CHECK_SINGLES]:
                self.single(q)
            self.batch(self.suite)
            if measured >= self.seconds:
                return

    def run_query(self) -> None:
        """Single and phrase queries for ``seconds`` of query time, then
        one batch job over the eval suite."""
        stream = inputs.query_stream(self.seed, 40)
        measured, phrases = 0.0, 0
        for i, q in enumerate(stream):
            if measured >= self.seconds:
                break
            if i % PHRASE_EVERY == 2:  # the third operation is the first phrase
                kind, n = "phrase", len(self.samples["phrase"])
                self.phrase(self.phrase_list[phrases % len(self.phrase_list)])
                phrases += 1
            else:
                kind, n = "single", len(self.samples["single"])
                self.single(q)
            measured += sum(self.samples[kind][n:]) or 1.0  # a raising op still advances
        self.batch(self.suite)

    def run(self) -> None:
        if self.workload == "ingest":
            self.run_ingest()
        else:
            self.run_query()

    # -- metrics --------------------------------------------------------------------------

    def op_kind(self) -> str:
        return "fold" if self.workload == "ingest" else "single"

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        _files, index_bytes = layers.index_files(self.index_root)
        content_bytes = int(self.live["content"].str.len().sum())
        return {
            "setup_s": (self.setup_s, "s"),
            "op_p50_s": (statistics.median(self.samples[self.op_kind()]), "s"),
            "index_bytes_per_input_byte": (index_bytes / content_bytes, "ratio"),
        }

    def named(self) -> list[tuple[str, float, str]]:
        """The workload's figures under their own names, for the log."""
        s = self.samples

        def med(xs):  # a contended run may end its loop before a phrase query
            return statistics.median(xs) if xs else float("nan")

        rows = []
        if self.build_s is not None:
            rows.append(("build_files_per_s", N_DOCS / self.build_s, "1/s"))
        if self.workload == "ingest":
            rows.append(("freshness_s", med(s["fold"]), "s"))
            rows.append(("fold_query_p50_s", med(s["single"]), "s"))
        else:
            rows.append(("query_p50_s", med(s["single"]), "s"))
            if s["single"]:
                pct, val = _tail(s["single"])
                rows.append((f"query_tail_s(p{pct:.0f},n={len(s['single'])})", val, "s"))
            rows.append(("phrase_p50_s", med(s["phrase"]), "s"))
        # Log figures, not end-to-end metrics: over ten seeds on a shared
        # 4-core host their spread (quartile distance over median) reached
        # 0.41 (one 3-5 s batch job per run) and 0.21 (peak memory, query).
        rows.append(("batch_queries_per_s", len(self.suite) / med(s["batch"]), "1/s"))
        rows.append(("peak_rss_mb", self.peak_rss_mb, "MB"))
        rows.append(("failed_frac", self.failed / max(self.attempted, 1), "ratio"))
        return rows

    # -- traced run ------------------------------------------------------------------------

    def phrase_twin_check(self) -> None:
        """phrase_topk_df, the engine's DataFrame twin, over the live
        corpus must agree with the phrase oracle the measured phrase
        queries were checked against. It costs several Spark jobs per
        phrase, so only the traced run makes it."""
        with self.tracer.span("bench.oracle", op=True):
            frames = build_index_frames(with_doc_id(self.spark.createDataFrame(self.live)),
                                        url_cols=URL_COLS)
            toks, postings, dstats, tstats = (x.cache() for x in frames)
            n, avgdl = corpus_stats(dstats)
            for p in sorted({s["phrase"] for s in self.tracer.named("query.phrase")}):
                twin = [tuple(r) for r in Q.phrase_topk_df(
                    toks, postings, dstats, tstats, n, avgdl, Q.normalize_phrase(p),
                    k=C.TOP_K).collect()]
                self._check("phrase_twin", twin == self._expect_phrase(p),
                            f"phrase_topk_df differs from the phrase oracle for {p!r}")
            for x in (toks, postings, dstats, tstats):
                x.unpersist()

    def trace_overhead(self, pairs: int = 3) -> float:
        """Median traced minus median untraced latency of single queries
        run in interleaved pairs, the order alternating between pairs."""
        lat: dict[bool, list[float]] = {True: [], False: []}
        for i, q in enumerate(inputs.query_stream(self.seed + 7, 1)[: 2 * pairs]):
            traced = (i % 2 == 0) == (i // 2 % 2 == 0)
            self.tracer.enabled = traced
            try:
                dt, got = self._single_call(q)
            finally:
                self.tracer.enabled = True
            self._check("single", got == self._expect(q), f"{q!r} differs from the oracle")
            lat[traced].append(dt)
        return statistics.median(lat[True]) - statistics.median(lat[False])

    def layer_probes(self) -> dict:
        """After the traced loop: the tracing overhead and the per-layer
        probes. On ingest, one phrase query (its loop makes none), a
        traced build of the corpus (after the fold, so it runs warm) and
        the tokenize, postings and encode probes; on query, the phrase
        twin check. The build and streaming layers are idle on query and
        read zero there."""
        tr = self.tracer
        extra = {"trace.overhead_s": self.trace_overhead()}
        if self.workload == "ingest":
            self.phrase(self.phrase_list[0])
            self._build(self.corpus_dir, os.path.join(WORK, "build"))
            layers.spark_probes(tr, self.spark.createDataFrame(self.live), URL_COLS)
        else:
            self.phrase_twin_check()
        extra.update(layers.codec_probe(self.index_root))
        extra["stemmer.stems_per_s"] = layers.stemmer_probe(inputs.vocabulary(self.live))
        manifests = read_manifest(self.index_root)
        n_files, index_bytes = layers.index_files(self.index_root)
        extra["index.blocks"] = sum(m["n_blocks"] for m in manifests)
        extra["sink.index_bytes"] = index_bytes
        extra["sink.bytes_per_posting"] = index_bytes / max(sum(m["n_postings"] for m in manifests), 1)
        extra["sink.files"] = n_files
        # the block rows each traced operation scanned, read and decoded in-process
        score_cols = layers.SCORE_STREAMS + ("term",)
        for s in tr.named("query.single"):
            rows = layers.block_rows(self.index_root, N_BUCKETS, Q.normalize_query(s["query"])[0],
                                     score_cols)
            s.update(block_rows=len(rows), block_mb=layers.stream_mb(rows, layers.SCORE_STREAMS),
                     decode_inproc_s=layers.decode_score_streams(rows))
        for s in tr.named("query.phrase"):
            rows = layers.block_rows(self.index_root, N_BUCKETS, Q.normalize_phrase(s["phrase"]),
                                     layers.POS_STREAMS + ("term",))
            s["pos_mb"] = layers.stream_mb(rows, layers.POS_STREAMS)
        for s in tr.named("query.batch"):
            rows = layers.block_rows(self.index_root, N_BUCKETS, s["terms"], score_cols)
            s["block_mb"] = layers.stream_mb(rows, layers.SCORE_STREAMS)
        return extra


def run(args) -> dict:
    host = HostStamp()
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    with TreeRssSampler() as rss:
        try:
            b.setup()
            b.run()
            e2e = b.end_to_end()
            if b.trace:
                extra = b.layer_probes()
        finally:
            if b.spark is not None:
                stop_spark(b.spark)
        rss.sample()
    b.peak_rss_mb = rss.peak_mb
    named = b.named()
    metrics = e2e
    if b.trace:
        b.tracer.attribute(os.path.join(WORK, "eventlog"), b.cores)
        extra["host.load1"] = host.load1
        extra["host.steal_pct"] = host.steal_pct()
        metrics = layers.per_layer(b.tracer, extra)
        b.tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.json"))
    print(f"perfbench {args.workload} seed={args.seed} cores={b.cores} docs={N_DOCS} "
          f"buckets={N_BUCKETS} load1={host.load1:.2f} steal_pct={host.steal_pct():.2f} "
          f"trace={args.trace}")
    for name, (v, unit) in list(e2e.items()) + [(n, (v, u)) for n, v, u in named]:
        print(f"  {name:<32} {v:14.4f} {unit}")
    print("  setup rounds (s): " + " ".join(f"{x:.3f}" for x in b.setup_rounds))
    print("  phases: " + " ".join(f"{k}={v:.2f}s" for k, v in b.phase.items()))
    for kind, xs in b.samples.items():
        print(f"  {kind} samples (s): " + " ".join(f"{x:.3f}" for x in xs))
    for f in b.failures:
        print(f"FAILED {f}", file=sys.stderr)
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    _pin_environment(bool(args.trace))
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
