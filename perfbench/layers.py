"""Per-layer probes and the per-layer metric table.

The probes call one engine module each, from outside, on this run's own
corpus and index, after the measured loop (so they never disturb it):

- ``tokenize``: a standalone ``tokenize_url`` pass over the corpus;
- ``stemmer``: in-process ``porter_stem`` over the corpus vocabulary;
- ``index``: ``build_index_frames`` postings, then ``build_block_index``
  into Spark's no-op sink;
- ``codec``: in-process decode and re-encode of every stream of the
  built index, read straight from its parquet files;
- ``query``: in-process decode of exactly the block rows each measured
  query scanned — the decode work a query cannot avoid, to set against
  the Spark job that did it.
"""

from __future__ import annotations

import os
import statistics
import time

import pyarrow.dataset as ds

from search_engine_spark.codec import (
    decode_doc_ids,
    decode_positions,
    encode_doc_ids,
    encode_positions,
    varbyte_decode,
    varbyte_encode,
)
from search_engine_spark.sink import term_bucket_py

SCORE_STREAMS = ("doc_bytes", "tf_bytes", "dl_bytes", "uf_bytes")
POS_STREAMS = ("pos_bytes", "plen_bytes")


def block_rows(index_root: str, n_buckets: int, terms, streams) -> list[dict]:
    """The block rows of ``terms``, read in-process from the buckets that
    own them (the pruning blocks_for_terms applies)."""
    terms = sorted(set(terms))
    if not terms:
        return []
    buckets = sorted({term_bucket_py(t, n_buckets) for t in terms})
    table = ds.dataset(os.path.join(index_root, "blocks"), format="parquet",
                       partitioning="hive").to_table(
        columns=list(streams),
        filter=ds.field("bucket").isin(buckets) & ds.field("term").isin(terms),
    )
    return table.to_pylist()


def stream_mb(rows: list[dict], streams) -> float:
    return sum(len(r[s]) for r in rows for s in streams) / 1e6


def decode_score_streams(rows: list[dict]) -> float:
    """Seconds to decode the BM25 streams of ``rows`` with the public codec."""
    t0 = time.perf_counter()
    for r in rows:
        decode_doc_ids(r["doc_bytes"])
        varbyte_decode(r["tf_bytes"])
        varbyte_decode(r["dl_bytes"])
        varbyte_decode(r["uf_bytes"])
    return time.perf_counter() - t0


def codec_probe(index_root: str, min_s: float = 1.0) -> dict:
    """Decode, then re-encode, the index's block rows with the public
    codec, each for at least ``min_s`` (or the whole index): MB/s of
    stream bytes — input bytes for decode, output bytes for encode."""
    rows = ds.dataset(os.path.join(index_root, "blocks"), format="parquet",
                      partitioning="hive").to_table(
        columns=list(SCORE_STREAMS + POS_STREAMS)
    ).to_pylist()
    decoded, mb_in, t0 = [], 0.0, time.perf_counter()
    for r in rows:
        decoded.append((
            decode_doc_ids(r["doc_bytes"]),
            [varbyte_decode(r[s]) for s in ("tf_bytes", "dl_bytes", "uf_bytes")],
            decode_positions(r["pos_bytes"], r["plen_bytes"]),
        ))
        mb_in += stream_mb([r], SCORE_STREAMS + POS_STREAMS)
        if time.perf_counter() - t0 >= min_s:
            break
    decode_s = time.perf_counter() - t0
    out, t0 = 0, time.perf_counter()
    for ids, vals, (pos, lens) in decoded:
        out += len(encode_doc_ids(ids))
        out += sum(len(varbyte_encode(v)) for v in vals)
        out += sum(len(b) for b in encode_positions(pos, lens))
        if time.perf_counter() - t0 >= min_s:
            break
    encode_s = time.perf_counter() - t0
    return {"codec.decode_mb_per_s": mb_in / decode_s,
            "codec.encode_mb_per_s": out / 1e6 / encode_s}


def stemmer_probe(vocab: list[str], min_s: float = 0.5) -> float:
    """porter_stem calls per second over the corpus vocabulary, repeated
    until ``min_s`` has passed."""
    from search_engine_spark.stemmer import porter_stem

    n, t0 = 0, time.perf_counter()
    while True:
        for w in vocab:
            porter_stem(w)
        n += len(vocab)
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return n / dt


def spark_probes(tracer, corpus_df, url_cols) -> None:
    """tokenize, postings and encode passes over ``corpus_df``, each in
    its own span (the event log attributes their jobs)."""
    from search_engine_spark.corpus import with_doc_id
    from search_engine_spark.index import build_block_index, build_index_frames, corpus_stats
    from search_engine_spark.tokenize import tokenize_url

    ids = with_doc_id(corpus_df)
    with tracer.span("tokenize.tokenize", op=True) as sp:
        sp["tokens"] = tokenize_url(ids, url_cols).count()
    _toks, postings, dstats, _tstats = build_index_frames(ids, url_cols=url_cols)
    with tracer.span("index.postings", op=True) as sp:
        sp["postings"] = postings.count()
        _n, avgdl = corpus_stats(dstats)
    with tracer.span("index.encode", op=True):
        build_block_index(postings, dstats, avgdl).write.format("noop").mode("overwrite").save()


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def per_layer(tracer, extra: dict) -> dict[str, tuple[float, str]]:
    """name → (value, unit) for every per-layer metric, from the spans
    (after event-log attribution) and the probes' ``extra`` figures. A
    layer the workload left idle reads zero."""
    t = tracer

    def med(values) -> float:
        values = list(values)
        return statistics.median(values) if values else 0.0

    def spans_s(name) -> float:
        return med(_dur(s) for s in t.named(name))

    def child_s(ops, name) -> float:
        return med(_dur(c) for s in ops for c in t.children(s, name))

    def attr(ops, key) -> float:
        return med(s[key] for s in ops)

    single, phrase, batch = (t.named(n) for n in ("query.single", "query.phrase", "query.batch"))
    build, cycles = t.named("sink.build"), t.named("streaming.cycle")
    folds = [c for s in cycles for c in t.children(s, "streaming.fold")]
    tok, post = t.named("tokenize.tokenize"), t.named("index.postings")
    build_s, fold_s = spans_s("sink.build"), med(_dur(f) for f in folds)
    exec_s, decode_s = child_s(single, "query.exec"), attr(single, "decode_inproc_s")
    m = {
        "session.start_s": (spans_s("session.start"), "s"),
        "corpus.generate_s": (spans_s("corpus.generate"), "s"),
        "bench.oracle_s": (sum(_dur(s) for s in t.named("bench.oracle")), "s"),
        "tokenize.tokenize_s": (spans_s("tokenize.tokenize"), "s"),
        "tokenize.tokens": (attr(tok, "tokens"), "count"),
        "stemmer.stems_per_s": (extra["stemmer.stems_per_s"], "1/s"),
        "index.postings_s": (spans_s("index.postings"), "s"),
        "index.postings": (attr(post, "postings"), "count"),
        "index.encode_s": (spans_s("index.encode"), "s"),
        "index.blocks": (extra["index.blocks"], "count"),
        "codec.encode_mb_per_s": (extra["codec.encode_mb_per_s"], "MB/s"),
        "codec.decode_mb_per_s": (extra["codec.decode_mb_per_s"], "MB/s"),
        "sink.build_s": (build_s, "s"),
        "sink.build.spark_jobs": (attr(build, "jobs"), "count"),
        "sink.build.spark_tasks": (attr(build, "tasks"), "count"),
        "sink.build.cpu_util": (attr(build, "cpu_util"), "ratio"),
        "sink.build.shuffle_mb": (attr(build, "shuffle_mb"), "MB"),
        "sink.build.spill_mb": (attr(build, "spill_mb"), "MB"),
        "sink.index_bytes": (extra["sink.index_bytes"], "bytes"),
        "sink.bytes_per_posting": (extra["sink.bytes_per_posting"], "bytes"),
        "sink.files": (extra["sink.files"], "count"),
        "sink.blocks_for_terms_s": (child_s(single, "sink.blocks_for_terms"), "s"),
        "sink.verify_s": (spans_s("sink.verify"), "s"),
        "query.plan_s": (child_s(single, "query.plan"), "s"),
        "query.exec_s": (exec_s, "s"),
        "query.driver_s": (attr(single, "driver_s"), "s"),
        "query.spark_jobs": (attr(single, "jobs"), "count"),
        "query.spark_tasks": (attr(single, "tasks"), "count"),
        "query.block_rows": (attr(single, "block_rows"), "count"),
        "query.block_mb": (attr(single, "block_mb"), "MB"),
        "query.decode_inproc_s": (decode_s, "s"),
        "query.framework_share": (1.0 - decode_s / exec_s if exec_s else 0.0, "ratio"),
        "query.phrase_exec_s": (child_s(phrase, "query.phrase_exec"), "s"),
        "query.phrase_pos_mb": (attr(phrase, "pos_mb"), "MB"),
        "query.batch_plan_s": (child_s(batch, "query.batch_plan"), "s"),
        "query.batch_exec_s": (child_s(batch, "query.batch_exec"), "s"),
        "query.batch_spark_tasks": (attr(batch, "tasks"), "count"),
        "query.batch_cpu_util": (attr(batch, "cpu_util"), "ratio"),
        "query.batch_block_mb": (attr(batch, "block_mb"), "MB"),
        "streaming.ingest_s": (child_s(cycles, "streaming.ingest"), "s"),
        "streaming.fold_s": (fold_s, "s"),
        "streaming.touched_buckets": (attr(cycles, "touched_buckets"), "count"),
        "streaming.n_new_docs": (attr(cycles, "n_new_docs"), "count"),
        "streaming.n_retired": (attr(cycles, "n_retired"), "count"),
        "streaming.write_amp": (med(f["output_mb"] * 1e6 / s["delta_bytes"] for s in cycles
                                    for f in t.children(s, "streaming.fold")), "ratio"),
        "streaming.fold_vs_build": (fold_s / build_s if build_s else 0.0, "ratio"),
        "streaming.fold.spark_tasks": (med(f["tasks"] for f in folds), "count"),
        "streaming.fold.shuffle_mb": (med(f["shuffle_mb"] for f in folds), "MB"),
        "trace.overhead_s": (extra["trace.overhead_s"], "s"),
        "host.load1": (extra["host.load1"], "load"),
        "host.steal_pct": (extra["host.steal_pct"], "%"),
    }
    return m


def index_files(index_root: str) -> tuple[int, int]:
    """(data files under blocks/, bytes of every file under the root)."""
    n_files = 0
    for _d, _s, files in os.walk(os.path.join(index_root, "blocks")):
        n_files += sum(f.endswith(".parquet") for f in files)
    total = 0
    for d, _s, files in os.walk(index_root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return n_files, total
