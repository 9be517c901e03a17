"""Seeded inputs for the serve workload: a docs store for SearchService
(Zipf vocabulary, ~1k hosts, links between docs, a 5% second round
carrying a fresh term), the request mix, and a documents.parquet for
the catalog leaves.

Everything is generated in Python from the seed, so the checks can
recompute which docs match a query without asking the engine.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass, field

from searchengine_spark.functions.urls import canonicalize_py, split_host_py, url_md5_py

from perfbench.web import SYLLABLES, word_py

# the catalog's documents table draws from the same 30-word pool as the
# engine's test data, so the catalog leaves (fixed BM25 terms, heavy
# hitters, language markers) find the terms they are written for
CATALOG_POOL = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
CATALOG_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
K = 10  # hits per console request


@dataclass
class Doc:
    url_md5: str
    url: str
    host: str
    round: int
    seq: int
    spans: list[dict]
    words: set[str] = field(default_factory=set)  # title, text and anchor tokens


@dataclass
class Query:
    kind: str  # search | leaf
    q: str
    fresh: bool = False  # the term only the second round's docs carry


def _vocab(n: int) -> list[str]:
    """n distinct words, half of 3 syllables (6 letters, routed to the
    engine's small dictionary) and half of 4 (8 letters, main one)."""
    half = n // 2
    return [word_py(i) for i in range(half)] + [word_py(8000 + i) for i in range(n - half)]


class ServeCorpus:
    def __init__(self, seed: int, n_docs: int = 2000, n_hosts: int = 1000, delta_frac: float = 0.05):
        rng = random.Random(seed)
        self.salt = f"q{seed}"
        vocab = _vocab(3000)
        rng.shuffle(vocab)  # rank order: vocab[0] is the most frequent
        cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(vocab))))
        self.fresh = "qu" + SYLLABLES[seed % 20] + SYLLABLES[seed // 20 % 20] + "xa"
        n_delta = max(1, int(n_docs * delta_frac))
        raw = [f"http://d{rng.randrange(n_hosts)}-{self.salt}.net/doc/{i}" for i in range(n_docs)]
        self.docs: list[Doc] = []
        for i in range(n_docs):
            rnd = 1 if i >= n_docs - n_delta else 0
            canon = canonicalize_py(raw[i])
            texts = [rng.choices(vocab, cum_weights=cum, k=rng.randint(12, 30)) for _ in range(3)]
            title = rng.choices(vocab, cum_weights=cum, k=3)
            if rnd == 1:
                texts[0].insert(rng.randrange(len(texts[0]) + 1), self.fresh)
            anchors = [rng.choices(vocab, cum_weights=cum, k=2) for _ in range(3)]
            targets = [raw[rng.randrange(n_docs)] for _ in range(3)]
            spans: list[dict] = []

            def push(kind, text=None, ref=None):
                spans.append({"kind": kind, "text": text, "media_ref": ref, "offset": len(spans)})

            push("title", " ".join(title))
            for t, a, tgt in zip(texts, anchors, targets):
                push("text", " ".join(t))
                push("link", ref=tgt)
                push("text", " ".join(a))
            words = {w for line in [title, *texts, *anchors] for w in line}
            self.docs.append(Doc(url_md5_py(canon), canon, split_host_py(canon), rnd, i, spans, words))
        # one cycle of the closed-loop client: every request in it runs
        # within the shortest --seconds window
        self.queries = [
            Query("search", self.fresh, fresh=True),
            Query("leaf", "bm25_topk"),
            Query("leaf", "frontier_dedup_cuckoo"),
        ]

    # -- the store rows ---------------------------------------------------------

    def rows(self, rnd: int) -> list[tuple]:
        return [
            (d.url_md5, d.url, d.host, 0, d.round, d.seq,
             [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in d.spans])
            for d in self.docs
            if d.round == rnd
        ]

    # -- pure-Python matching (the checks) ---------------------------------------

    def matching(self, q: str) -> set[str]:
        """url_md5 of every doc containing all the query's terms."""
        terms = q.split()
        return {d.url_md5 for d in self.docs if all(t in d.words for t in terms)}

    def by_md5(self) -> dict[str, Doc]:
        return {d.url_md5: d for d in self.docs}


def catalog_documents(seed: int, n_docs: int = 1000):
    """documents.parquet rows (doc_id, text, lang, source, n_chars) in
    the engine test data's shape, ~5% near-duplicates marked 'dup'."""
    import pyarrow as pa

    rng = random.Random(seed * 7919 + 1)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            src = texts[rng.randrange(len(texts))].split()
            src[rng.randrange(len(src))] = "dup"
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(CATALOG_POOL) for _ in range(rng.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(CATALOG_LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
