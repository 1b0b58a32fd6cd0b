"""Single source of truth for every constant shared by the Spark engine,
the pure-Python oracle ranker, and the tests (rank-identity requires both
sides to consume the exact same values).

Provenance: constants that come from the reference repo are cited
file:line into /root/reference; BM25 k1/b do NOT appear in the reference
(its rankers are tf-idf + PageRank blends, see SURVEY.md §5) so we pin the
standard Robertson/Sparck-Jones defaults here and both engine and oracle
read them from this module.
"""

from __future__ import annotations

# --- Tokenizer limits (reference: src/cis5550/jobs/Indexer.java:33) ---
MAX_WORD_LEN = 20
MAX_PAGE_LEN = 10_000
MAX_URL_LEN = 100

# Tokens dropped outright by the indexer
# (reference: src/cis5550/jobs/Indexer.java:36-38).
SKIP_WORDS = frozenset(
    ["http", "https", "com", "net", "edu", "org", "gov", "www", "xml", "ttl", "xmlj", "rdf"]
)

# Token split: lowercase then split on runs of non-alphanumerics
# (reference: split_page_locs, src/cis5550/jobs/Indexer.java:129-169).
TOKEN_SPLIT_RE = r"[^a-z0-9]+"

# --- Query-side constants (reference: src/cis5550/jobs/Search.java:24-55) ---
TOP_K = 200  # n_results, Search.java:25
STOPWORD_PENALTY = 0.05  # Search.java:24
URL_BONUS = 0.1  # Search.java:24
PAGERANK_WEIGHT = 0.05  # Search.java:24 (log-blend weights)
TFIDF_WEIGHT = 0.95  # Search.java:24

# 150-word stopword list, verbatim data from Search.java:38-55.
STOPWORDS = frozenset(
    """a an the and but or for nor so yet at by in of on to up as it is
    be am are was were been do does did has have had can could may might
    must shall should will would ought about above across after against
    along among around before behind below beneath beside between beyond
    concerning considering despite during except following inside into
    like near next off onto outside over past regarding round since
    through throughout toward under underneath unlike until upon with
    within without according alongside also any anybody anyone anything
    both each either everybody everyone everything few he her hers
    herself him himself his i it's its itself many me mine more most my
    myself neither no nobody none nothing one other others our ours
    ourselves several she some somebody someone something theirs them
    themselves these they this those us we what whatever which whichever
    who whoever whom whomever whose you your yours yourself yourselves""".split()
)

# --- BM25 (not present in reference; pinned here, consumed by engine AND oracle) ---
BM25_K1 = 1.2
BM25_B = 0.75

# --- PageRank (reference: src/cis5550/jobs/PageRank.java:21,232 and
#     src/cis5550/jobs_archive/PageRankParallel.java:27,311) ---
PR_DECAY = 0.85
PR_CONV_THRESH = 0.01
PR_CONV_P = 0.95  # parallel variant
PR_MAX_ITERS = 100  # parallel variant

# --- Physical index layout (ours; no reference equivalent) ---
# Number of document shards: postings are grouped by (term, shard) where
# shard = pmod(doc_id, N_DOC_SHARDS). Hot-term skew is bounded by
# df_max / N_DOC_SHARDS postings per task. At 100 TB raise to 4096+.
N_DOC_SHARDS = 32
# Max postings per compressed block inside one (term, shard) row; block-max
# metadata is kept per block for WAND-style skipping.
BLOCK_SIZE = 128
# Term buckets: the unit of sink commit/resume/lineage (sink.py). Bucket =
# crc32(term) % N_TERM_BUCKETS — crc32 because zlib.crc32 matches Spark's
# F.crc32, letting the query driver prune buckets without a Spark job.
# At 100 TB raise to O(1000); the commit protocol is unchanged.
N_TERM_BUCKETS = 16
# Doc-metadata buckets: the docs side table is partitioned by
# dbucket = pmod(doc_id, N_DOC_META_BUCKETS), so an incremental fold
# (streaming.compact_into_index) rewrites ONLY the buckets holding a
# new or retired doc instead of the whole corpus-sized metadata table —
# the docs-update cost becomes delta-proportional, like the blocks side.
# At the 10^12-file target raise to O(10^5) (≈10^7 docs per bucket).
N_DOC_META_BUCKETS = 16

# --- Synthetic corpus generator (FIXTURES.md §1; seed mandated by TESTDATA.md) ---
SEED = 42
VOCAB_SIZE = 5000
ZIPF_S = 1.2
CORPUS_LANGS = ["python", "java", "js", "go", "rust", "md"]
LANG_HOT_TERMS = {
    "python": ["def", "import", "self", "return", "class"],
    "java": ["public", "static", "void", "import", "class"],
    "js": ["function", "const", "let", "return", "var"],
    "go": ["func", "package", "return", "err", "nil"],
    "rust": ["fn", "let", "mut", "impl", "pub"],
    "md": ["the", "and", "code", "example", "usage"],
}
