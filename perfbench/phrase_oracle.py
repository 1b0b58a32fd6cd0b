"""Pure-Python positional phrase oracle over an ``OracleIndex``.

A phrase matches at start ``s`` when every phrase term ``t_i`` equals the
raw token at position ``s + i`` or its Porter stem — the engine posts
both forms at the raw token's position. Matches are scored with the
oracle's own BM25 expression over the phrase's distinct terms,
term-ascending, weight 1.0 — the arithmetic the engine's phrase scorers
share with its bag-of-words scorers — and ranked (score DESC, doc_id
ASC). Rows are ``(doc_id, n_occurrences, first_pos, score)`` with
1-based positions, the shape ``phrase_topk_blocks`` returns.
"""

from __future__ import annotations

from search_engine_spark import constants as C
from search_engine_spark.oracle import OracleIndex, tokenize_doc
from search_engine_spark.query import bm25_idf
from search_engine_spark.stemmer import porter_stem


def phrase_topk(oi: OracleIndex, texts: dict[int, tuple[str, str]], terms: list[str],
                k: int = C.TOP_K) -> list[tuple]:
    """``texts``: doc_id → (url, content), the rows ``oi`` was built from."""
    uterms = sorted(set(terms))
    plists = [oi.postings.get(t) for t in uterms]
    if not uterms or not all(plists):
        return []
    k1, b = C.BM25_K1, C.BM25_B
    candidates = set(plists[0]).intersection(*plists[1:])
    stems: dict[str, str] = {}
    out = []
    for d in candidates:
        url, content = texts[d]
        forms = []
        for tok in tokenize_doc(content, url):
            st = stems.get(tok)
            if st is None:
                st = stems[tok] = porter_stem(tok)
            forms.append((tok, st))
        starts = [
            s + 1
            for s in range(len(forms) - len(terms) + 1)
            if all(t in forms[s + i] for i, t in enumerate(terms))
        ]
        if not starts:
            continue
        score, dl = 0.0, oi.doclen[d]
        for t in uterms:
            tf = oi.postings[t][d]
            us = oi.url_stems.get(d)
            if us is not None and t in us:
                tf = tf + C.URL_BONUS * 1.0
            idf = bm25_idf(oi.N, len(oi.postings[t]))
            score = score + idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / oi.avgdl)) * 1.0
        out.append((d, len(starts), starts[0], score))
    out.sort(key=lambda r: (-r[3], r[0]))
    return out[:k]
