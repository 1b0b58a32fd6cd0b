"""Where the driver route of the block query paths stops winning.

``bm25_topk_blocks`` and ``phrase_topk_blocks`` score a pruned block set
on the driver while its postings (Σ df over the query's terms) are at
most ``query.DRIVER_MAX_POSTINGS`` (``DRIVER_MAX_PHRASE_POSTINGS`` for a
phrase), and with one ``applyInPandas`` job above it. This script builds
(once, cached) an index over a generated corpus, then times both
routes — forced by setting the limits — the way a served query runs
(``IndexSink.blocks_for_terms``, the query path, ``collect``):

  bm25   — the j hottest terms as one query
  phrase — the j hottest terms as one phrase

for j in ``STEPS``, so Σ df sweeps from n_docs to ~40 n_docs. Timings are
the median of ``repeats`` calls per route, the two routes alternating
after one untimed call each; both routes must return identical rows.

Prints one JSON line per query:
  {"kind": ..., "terms": j, "sum_df": ..., "block_bytes": ...,
   "driver_s": ..., "dist_s": ...}

(block_bytes: the streams the closure decodes, positions included for
a phrase.) A limit belongs where driver_s overtakes dist_s.

The session matches the repository benchmark's (perfbench/run.py):
all cores, a 1g driver heap and the C1 JIT only (with a larger code
cache: see the session below).

Usage: python tools/route_crossover.py [n_docs] [repeats]
(defaults 20000 / 3; the index is cached under .data/)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STEPS = (1, 2, 3, 4, 6, 8, 12, 16, 24, 32, 48, 64)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 20000
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from pyspark.sql import functions as F

    from search_engine_spark import query as Q
    from search_engine_spark.corpus import generate_corpus
    from search_engine_spark.session import build_session
    from search_engine_spark.sink import IndexSink, wtf_scale_of

    spark = build_session(
        len(os.sched_getaffinity(0)), "route_crossover",
        # a sweep runs long enough to fill the default 48 MB C1 code
        # cache; once it is full the JIT stops and later timings drift
        extra_conf={"spark.driver.extraJavaOptions": (
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    sink = IndexSink(os.path.join(REPO, ".data", f"route_crossover-{n_docs}"))
    if not os.path.exists(os.path.join(sink.root, "meta.json")):
        res = sink.build(generate_corpus(spark, n_docs))
        assert res["status"] == "committed", res
    _b, tstats, _d, meta = sink.read(spark)
    N, avgdl, wtf = meta["N"], meta["avgdl"], wtf_scale_of(meta)
    hot = [(r["term"], int(r["df"])) for r in tstats.orderBy(F.desc("df"), "term").limit(64).collect()]

    def block_bytes(terms, cols):
        idx = sink.blocks_for_terms(spark, terms)
        return int(idx.agg(sum(F.sum(F.length(c)) for c in cols)).first()[0])

    def bm25(terms):
        q = " ".join(terms)
        df = Q.bm25_topk_blocks(sink.blocks_for_terms(spark, terms), tstats, N, avgdl, q, wtf_scale=wtf)
        return [tuple(r) for r in df.collect()]

    def phrase(terms):
        idx = sink.blocks_for_terms(spark, sorted(set(terms)))
        return [tuple(r) for r in Q.phrase_topk_blocks(idx, tstats, N, avgdl, terms=terms).collect()]

    def timed(call, terms, limit):
        Q.DRIVER_MAX_POSTINGS = Q.DRIVER_MAX_PHRASE_POSTINGS = limit
        t0 = time.perf_counter()
        rows = call(terms)
        return time.perf_counter() - t0, rows

    routes = {"driver_s": 1 << 62, "dist_s": -1}
    for j in STEPS:
        terms = [t for t, _df in hot[:j]]
        sum_df = sum(df for _t, df in hot[:j])
        for kind, call in (("bm25", bm25), ("phrase", phrase)):
            if kind == "phrase" and j == 1:
                continue
            cols = ["doc_bytes", "tf_bytes", "dl_bytes", "uf_bytes"]
            if kind == "phrase":
                cols += ["pos_bytes", "plen_bytes"]
            ref = {name: timed(call, terms, lim)[1] for name, lim in routes.items()}
            assert ref["driver_s"] == ref["dist_s"], (kind, terms)
            times = {name: [] for name in routes}
            for _ in range(repeats):
                for name, lim in routes.items():
                    times[name].append(timed(call, terms, lim)[0])
            print(json.dumps({
                "kind": kind, "terms": j, "sum_df": sum_df,
                "block_bytes": block_bytes(terms, cols),
                **{name: round(statistics.median(ts), 3) for name, ts in times.items()},
            }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
