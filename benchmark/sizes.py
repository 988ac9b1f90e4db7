"""Input sizes and mixes of every workload, in one place.

Each run is short (the whole benchmark repeats every workload 22
times), so the sizes keep a run near a minute on a 4-core
host. At these sizes Spark's fixed per-job cost dominates every
operation, which is the regime the package's users see interactively.
"""

CORPUS = {
    "vocab": 4000,
    "zipf_s": 1.07,
    "entities": 40,
    "mention_share": 0.3,
    "sent_min": 3,
    "sent_max": 10,
    "words_min": 6,
    "words_max": 14,
    "clusters": 12,
    "cluster_noise": 0.3,
}

SEARCH_DOCS = 120
QUERIES = {
    # Equal shares: no source gives the reference's traffic mix. Its
    # SearchService exposes vector, BM25 and hybrid search as separate
    # entry points under one latency SLO for all search types, and the
    # hybrid endpoint is the request path the survey traces; the shares
    # are unverified.
    "mix": {"hybrid": 1 / 4, "bm25": 1 / 4, "knn_exact": 1 / 4, "knn_lsh": 1 / 4},
    "block": 4,
    "repeat_share": 0.1,
    "vector_noise": 0.05,
}
SEARCH_QUERIES = 1000  # generated; a run sends as many as its time allows
WARMUP_REQUESTS = 12  # untimed, three blocks of one request per kind, from the end of the stream (never measured)

INGEST_DOCS = 80
DELTA = {
    "modify_share": 0.04,
    "delete_share": 0.02,
    "add_share": 0.02,
    "shrink_share": 0.5,
}
DELTA_ROUNDS = 2

EVENTS = {
    "files": 4,
    "rows_per_file": 300,
    "users": 120,
    "user_zipf_s": 1.1,
    "late_share": 0.05,
}

# set-ups per run; setup_s is their median, so the cold first set-up
# (JIT, the process's first Spark jobs) does not set it
SETUP_REPEATS = 3
