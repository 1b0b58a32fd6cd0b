"""Seeded inputs: fold deltas, query streams, the eval suite, phrases.

The same seed gives the same inputs. Documents come from the engine's
own row generator (``generate_corpus_pdf``, which ``generate_corpus``
runs inside Spark tasks), written as parquet from the driver so no
input costs a Spark job.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from search_engine_spark import constants as C
from search_engine_spark.corpus import generate_corpus_pdf, reference_queries


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write one parquet file and publish it with an atomic rename, so a
    file-source stream never sees a half-written delta."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), tmp)
    os.replace(tmp, path)


def delta(seed: int, cycle: int, base: pd.DataFrame, n_edit: int, n_new: int) -> pd.DataFrame:
    """One fold delta: ``n_edit`` existing (repo, path) rows under a new
    commit with new content, plus ``n_new`` files that did not exist.
    Each cycle edits different base rows, so no row is edited twice."""
    order = np.random.default_rng((seed, 1)).permutation(len(base))
    picks = order[cycle * n_edit : (cycle + 1) * n_edit]
    edits = base.iloc[np.sort(picks)].copy()
    edits["content"] = generate_corpus_pdf(n_edit, seed=seed * 7919 + cycle + 1)["content"].values
    edits["commit"] = [
        hashlib.sha1(f"{seed}:{cycle}:{r}:{p}".encode()).hexdigest()
        for r, p in zip(edits["repo"], edits["path"])
    ]
    # fresh doc indices past every base and earlier-delta index → new paths
    new = generate_corpus_pdf(n_new, seed=seed, start=len(base) + cycle * n_new)
    return pd.concat([edits, new], ignore_index=True)


def upsert(live: pd.DataFrame, d: pd.DataFrame) -> pd.DataFrame:
    """The live corpus after ``d`` lands: a row per (repo, path), the
    delta's version winning."""
    keep = ~live.set_index(["repo", "path"]).index.isin(d.set_index(["repo", "path"]).index)
    return pd.concat([live[keep], d], ignore_index=True)


def vocabulary(pdf: pd.DataFrame) -> list[str]:
    """Distinct content words, most frequent first (ties by spelling)."""
    counts = Counter(w for text in pdf["content"] for w in text.split())
    return [w for w, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))]


def ref_queries() -> list[str]:
    return [q for _qid, q in reference_queries()]


def query_stream(seed: int, rounds: int) -> list[str]:
    """Shuffled rounds of the 25 reference queries."""
    rng = np.random.default_rng((seed, 2))
    refs = ref_queries()
    return [refs[i] for _ in range(rounds) for i in rng.permutation(len(refs))]


def eval_suite(seed: int, vocab: list[str], n_extra: int) -> dict[str, str]:
    """The reference 25 plus ``n_extra`` 1-4-term bag-of-words queries,
    terms drawn Zipf(ZIPF_S)-weighted by corpus frequency rank."""
    rng = np.random.default_rng((seed, 3))
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** (-C.ZIPF_S)
    p /= p.sum()
    suite = {f"ref{i:02d}": q for i, q in enumerate(ref_queries(), start=1)}
    for i in range(n_extra):
        words = rng.choice(len(vocab), size=int(rng.integers(1, 5)), p=p)
        suite[f"zipf{i:03d}"] = " ".join(vocab[w] for w in words)
    return suite


def phrases(seed: int, pdf: pd.DataFrame, n: int) -> list[str]:
    """The hot-term phrase ``import the`` plus ``n - 1`` two-word phrases
    cut from seeded documents (so each has at least one match)."""
    rng = np.random.default_rng((seed, 4))
    out = ["import the"]
    while len(out) < n:
        words = pdf["content"].iloc[int(rng.integers(len(pdf)))].split()
        if len(words) >= 2:
            i = int(rng.integers(len(words) - 1))
            out.append(" ".join(words[i : i + 2]))
    return out
