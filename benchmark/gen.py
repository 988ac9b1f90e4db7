"""Seeded input generator for every benchmark workload.

Everything a run feeds the engine comes from one ``numpy`` generator
seeded with ``--seed``: the same seed gives byte-identical inputs, a
different seed different ones. Sampling is vectorised (precomputed
cumulative weights + ``searchsorted``); per-word Python sampling with
raw weights is ~60x slower at a 20k vocabulary.

The functions return plain Python / numpy data plus a ``props`` dict
of the input properties the run records next to its metrics.
"""

from __future__ import annotations

import numpy as np

from sizes import CORPUS, DELTA, EVENTS, QUERIES

STOPWORDS = {
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to", "for",
    "of", "with", "by", "from", "as", "is", "are", "was", "were", "be",
    "been", "being", "have", "has", "had", "do", "does", "did", "will",
    "would", "could", "should", "may", "might", "can", "this", "that",
    "these", "those", "it", "its", "not", "no", "yes", "all", "any",
}
ENTITY_TYPES = ("ORG", "PERSON", "PLACE", "PRODUCT")
EVENT_TYPES = ("view", "click", "purchase", "signup")
EMBED_DIM = 64
BASE_TS_US = 1_700_000_000_000_000


def zipf_cdf(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def draw(rng: np.random.Generator, cdf: np.ndarray, size) -> np.ndarray:
    return np.minimum(np.searchsorted(cdf, rng.random(size)), len(cdf) - 1)


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable lowercase words, none a stopword and
    all at least four letters (so every one is a BM25 content token)."""
    syll = np.array([c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"])
    words: dict[str, None] = {}
    while len(words) < n:
        k = rng.integers(2, 4, size=4 * n)
        parts = rng.integers(0, len(syll), size=(4 * n, 3))
        for kk, p in zip(k, parts):
            w = "".join(syll[p[:kk]])
            if w not in STOPWORDS and len(w) >= 4:
                words.setdefault(w)
            if len(words) == n:
                break
    return list(words)


class Corpus:
    """Sentence-structured documents over a Zipf vocabulary with
    gazetteer entity mentions, plus one clustered embedding per doc."""

    def __init__(self, seed: int, n_docs: int, cfg=CORPUS):
        self.cfg = cfg
        self.rng = np.random.default_rng([seed, 1])
        rng = self.rng
        self.vocab = vocabulary(rng, cfg["vocab"])
        self.cdf = zipf_cdf(len(self.vocab), cfg["zipf_s"])
        names = vocabulary(rng, 2 * cfg["entities"] + len(self.vocab))[
            len(self.vocab):
        ]
        self.gazetteer = {
            f"{names[2 * i].capitalize()} {names[2 * i + 1].capitalize()}":
            ENTITY_TYPES[i % len(ENTITY_TYPES)]
            for i in range(cfg["entities"])
        }
        self._entity_names = list(self.gazetteer)
        c = cfg["clusters"]
        self.centers = rng.normal(size=(c, EMBED_DIM))
        self.cluster_cdf = zipf_cdf(c, 1.0)  # uneven cluster (LSH bucket) sizes
        self.next_id = 0
        self.texts: dict[int, str] = {}
        self.ordinals: dict[int, int] = {}
        self.vectors: dict[int, np.ndarray] = {}
        for _ in range(n_docs):
            self.add()

    def text(self, n_sent: int | None = None) -> str:
        rng, cfg = self.rng, self.cfg
        if n_sent is None:
            n_sent = int(rng.integers(cfg["sent_min"], cfg["sent_max"] + 1))
        lens = rng.integers(cfg["words_min"], cfg["words_max"] + 1, size=n_sent)
        words = draw(rng, self.cdf, int(lens.sum()))
        mention = rng.random(n_sent) < cfg["mention_share"]
        ents = rng.integers(0, len(self._entity_names), size=n_sent)
        sents, pos = [], 0
        for i, n in enumerate(lens):
            ws = [self.vocab[w] for w in words[pos:pos + n]]
            pos += n
            if mention[i]:
                ws.insert(len(ws) // 2, self._entity_names[ents[i]])
            ws[0] = ws[0].capitalize()
            sents.append(" ".join(ws) + ".")
        return " ".join(sents)

    def vector(self) -> np.ndarray:
        c = draw(self.rng, self.cluster_cdf, 1)[0]
        v = self.centers[c] + self.cfg["cluster_noise"] * self.rng.normal(
            size=EMBED_DIM
        )
        return v.astype(np.float32)

    def add(self) -> int:
        i = self.next_id
        self.next_id += 1
        self.texts[i] = self.text()
        self.ordinals[i] = 1
        self.vectors[i] = self.vector()
        return i

    def docs_rows(self) -> list[tuple[int, str]]:
        return sorted(self.texts.items())

    def listing_rows(self) -> list[tuple[int, int, str]]:
        return [(i, self.ordinals[i], t) for i, t in sorted(self.texts.items())]

    def embedding_rows(self) -> list[tuple[int, list[float]]]:
        return [(i, v.tolist()) for i, v in sorted(self.vectors.items())]

    def props(self) -> dict:
        lens = np.array([len(t) for t in self.texts.values()])
        sigs = {
            "".join("1" if x > 0 else "0" for x in v[:8])
            for v in self.vectors.values()
        }
        return {
            "docs": len(self.texts),
            "vocab": len(self.vocab),
            "zipf_s": self.cfg["zipf_s"],
            "entities": len(self.gazetteer),
            "doc_chars_mean": round(float(lens.mean()), 1),
            "clusters": self.cfg["clusters"],
            "lsh_buckets_used": len(sigs),
        }


def query_stream(corpus: Corpus, seed: int, n: int, cfg=QUERIES) -> tuple[list[dict], dict]:
    """Distinct search requests: a kind from the mix, 2-3 Zipf
    query terms (a ``repeat_share`` of requests reuse an earlier term
    set), and a query vector perturbed from a random corpus vector."""
    rng = np.random.default_rng([seed, 2])
    # the mix holds exactly in every block of `block` requests (seeded
    # order inside the block), so a short run still sees the stated mix
    block = [k for k, share in cfg["mix"].items() for _ in range(round(share * cfg["block"]))]
    kinds = [block[j] for _ in range(-(-n // len(block))) for j in rng.permutation(len(block))][:n]
    n_terms = rng.integers(2, 4, size=n)
    words = draw(rng, corpus.cdf, int(n_terms.sum()))
    repeat = rng.random(n) < cfg["repeat_share"]
    ids = np.array(sorted(corpus.vectors))
    src = rng.choice(ids, size=n)
    noise = rng.normal(size=(n, EMBED_DIM)) * cfg["vector_noise"]
    out, pos = [], 0
    for i in range(n):
        terms = [corpus.vocab[w] for w in words[pos:pos + n_terms[i]]]
        pos += n_terms[i]
        if repeat[i] and out:
            terms = list(out[int(rng.integers(0, len(out)))]["terms"])
        vec = (corpus.vectors[int(src[i])] + noise[i]).astype(np.float32)
        out.append({
            "kind": kinds[i],
            "terms": terms,
            "vec": [float(x) for x in vec],
        })
    props = {
        "queries_generated": n,
        "mix": cfg["mix"],
        "repeat_share": cfg["repeat_share"],
        "vector_noise": cfg["vector_noise"],
    }
    return out, props


def delta_rounds(corpus: Corpus, seed: int, rounds: int, cfg=DELTA) -> tuple[list[dict], dict]:
    """Mutate ``corpus`` in place, one dict per round listing the doc
    ids modified, deleted and added, and the source listing after the
    round. A modified doc keeps a prefix of its sentences: a
    ``shrink_share`` keep only the first third (so fewer chunks), the
    rest get the sentences after a random point rewritten (unchanged
    leading chunks are memo hits). Modified docs get a newer ordinal."""
    rng = np.random.default_rng([seed, 3])
    corpus.rng = rng
    out = []
    for _ in range(rounds):
        live = np.array(sorted(corpus.texts))
        n = len(live)
        n_mod = max(1, round(cfg["modify_share"] * n))
        n_del = max(1, round(cfg["delete_share"] * n))
        n_add = max(1, round(cfg["add_share"] * n))
        pick = rng.permutation(live)
        mod, dele = pick[:n_mod], pick[n_mod:n_mod + n_del]
        shrink = rng.random(n_mod) < cfg["shrink_share"]
        for d, s in zip(mod, shrink):
            sents = corpus.texts[int(d)].split(". ")
            if s:  # the first third of the sentences survive
                kept = sents[:max(1, len(sents) // 3)]
                corpus.texts[int(d)] = ". ".join(kept).rstrip(".") + "."
            else:  # an edit: sentences after a random point are rewritten
                keep = int(rng.integers(0, len(sents)))
                head = ". ".join(sents[:keep]).rstrip(".")
                tail = corpus.text(len(sents) - keep)
                corpus.texts[int(d)] = f"{head}. {tail}" if head else tail
            corpus.ordinals[int(d)] += 1
        for d in dele:
            del corpus.texts[int(d)]
            del corpus.ordinals[int(d)]
            del corpus.vectors[int(d)]
        added = [corpus.add() for _ in range(n_add)]
        out.append({
            "modified": sorted(int(d) for d in mod),
            "deleted": sorted(int(d) for d in dele),
            "added": added,
            "shrunk": int(shrink.sum()),
            "listing": corpus.listing_rows(),
        })
    props = {"rounds": rounds, **cfg}
    return out, props


def event_files(seed: int, cfg=EVENTS) -> tuple[list[dict], dict]:
    """Event files for the stream replay: fixed rows per file, Zipf user
    keys, a ``late_share`` of events stamped minutes in the past and
    rows shuffled within each file (out of order). Timestamps are
    unique, so the newest event per user is well defined. Values are
    multiples of 0.25, so sums are exact in any order."""
    rng = np.random.default_rng([seed, 4])
    n_files, per = cfg["files"], cfg["rows_per_file"]
    n = n_files * per
    ucdf = zipf_cdf(cfg["users"], cfg["user_zipf_s"])
    users = draw(rng, ucdf, n) + 1
    ts = BASE_TS_US + np.arange(n, dtype=np.int64) * 1_000_000 + rng.integers(
        0, 1_000_000, size=n
    )
    late = rng.random(n) < cfg["late_share"]
    ts[late] -= rng.integers(2, 20, size=int(late.sum())) * 60_000_000 + 1
    while True:  # keep timestamps unique after the late shift
        _, first = np.unique(ts, return_index=True)
        dup = np.setdiff1d(np.arange(n), first)
        if not len(dup):
            break
        ts[dup] += 1
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    value = rng.integers(0, 400, size=n) / 4.0
    files = []
    for f in range(n_files):
        sl = slice(f * per, (f + 1) * per)
        order = rng.permutation(per)
        files.append({
            "event_id": (np.arange(f * per, (f + 1) * per, dtype=np.int64))[order],
            "ts_us": ts[sl][order],
            "user_id": users[sl][order].astype(np.int64),
            "event_type": [EVENT_TYPES[e] for e in etype[sl][order]],
            "value": value[sl][order],
        })
    props = {
        **cfg,
        "events": n,
        "late_events": int(late.sum()),
        "distinct_users": int(len(np.unique(users))),
    }
    return files, props
