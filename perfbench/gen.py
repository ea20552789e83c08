"""Seeded input generator with ground truth.

Everything the benchmark feeds the engine comes from here, derived from
one integer seed: the same seed gives byte-identical parquet files and
query streams. The engine only ever sees the parquet files and plain
Python lists; the generator keeps each document's token list, the
planted near-duplicate pairs and the raw vectors as ground truth for
the output checks.
"""

from __future__ import annotations

import os
from collections import Counter, defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from mapreduce_inverted_index_spark.functions.stopwords import STOPWORDS

STOP = frozenset(STOPWORDS)
# The planted head of the Zipf ranks: real stopwords, so the engine's
# stopword filter removes about half of every document. Apostrophe
# entries are left out because the tokenizer strips apostrophes.
HEAD_STOPWORDS = tuple(w for w in STOPWORDS if "'" not in w)[:40]


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """An independent generator per (seed, stream...) so that adding a
    draw to one stream never shifts another."""
    return np.random.default_rng([seed, *stream])


class Vocabulary:
    """Zipf(s) ranks over ``size`` words; ranks below ``len(HEAD_STOPWORDS)``
    are stopwords, the rest synthetic lowercase words that never collide
    with a stopword."""

    def __init__(self, seed: int, size: int, s: float):
        rng = rng_for(seed, 1)
        words: list[str] = list(HEAD_STOPWORDS)
        seen = set(words)
        while len(words) < size:
            lens = rng.integers(3, 9, size=size)
            for n in lens:
                w = "".join(chr(97 + c) for c in rng.integers(0, 26, size=n))
                if w not in seen and w not in STOP:
                    seen.add(w)
                    words.append(w)
                    if len(words) == size:
                        break
        self.words = words
        p = np.arange(1, size + 1, dtype=np.float64) ** -s
        self.cdf = np.cumsum(p / p.sum())
        self.n_head = len(HEAD_STOPWORDS)

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        return np.minimum(np.searchsorted(self.cdf, rng.random(n)), len(self.words) - 1)

    def draw_content_ranks(self, rng: np.random.Generator, n: int) -> np.ndarray:
        """Zipf-drawn ranks restricted to non-stopwords (query terms)."""
        lo = self.cdf[self.n_head - 1]
        return np.minimum(
            np.searchsorted(self.cdf, lo + rng.random(n) * (1.0 - lo)),
            len(self.words) - 1,
        )


def zipf_docs(vocab: Vocabulary, rng: np.random.Generator, n_docs: int,
              median_len: float) -> list[list[str]]:
    """Token lists with lognormal lengths around ``median_len``."""
    lens = np.clip(rng.lognormal(np.log(median_len), 0.5, n_docs).astype(int), 4, 2000)
    ranks = vocab.draw(rng, int(lens.sum()))
    words = vocab.words
    out, at = [], 0
    for n in lens:
        out.append([words[r] for r in ranks[at:at + n]])
        at += n
    return out


def write_documents(sf_dir: str, ids: "list[int]", docs: "list[list[str]]") -> int:
    """``{sf_dir}/documents.parquet`` with ``doc_id BIGINT, text STRING``;
    returns the file's size in bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    path = f"{sf_dir}/documents.parquet"
    pq.write_table(
        pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array([" ".join(toks) for toks in docs], pa.string()),
        }),
        path,
    )
    return os.path.getsize(path)


class TextTruth:
    """Ground truth for the text index: live postings and, for BM25,
    per-document term counts of the seeded corpus."""

    def __init__(self, ids: "list[int]", docs: "list[list[str]]"):
        self.postings: dict[str, set[int]] = defaultdict(set)
        self.doc_terms: dict[int, set[str]] = {}
        self.tf: dict[int, Counter] = {}
        for d, toks in zip(ids, docs):
            self.add(d, toks)

    def add(self, d: int, toks: "list[str]") -> None:
        tf = Counter(t for t in toks if t not in STOP)
        self.tf[d] = tf
        self.doc_terms[d] = set(tf)
        for t in tf:
            self.postings[t].add(d)

    def remove(self, d: int) -> None:
        for t in self.doc_terms.pop(d):
            self.postings[t].discard(d)
            if not self.postings[t]:
                del self.postings[t]
        del self.tf[d]

    def lookup(self, terms: "list[str]") -> dict[str, list[int]]:
        return {t: sorted(self.postings[t]) for t in terms if t in self.postings}


def bm25_reference(tf: "dict[int, Counter]", terms: "list[str]", k: int,
                   k1: float = 1.2, b: float = 0.75) -> "list[tuple[int, float]]":
    """Independent numpy Okapi BM25 (Lucene idf) over ground-truth counts;
    top-k by score descending, ties by ascending doc_id."""
    docs = np.array(sorted(d for d, c in tf.items() if c), dtype=np.int64)
    dl = np.array([sum(tf[d].values()) for d in docs], dtype=np.float64)
    avgdl = dl.mean()
    score = np.zeros(len(docs))
    for t in terms:
        f = np.array([tf[d].get(t, 0) for d in docs], dtype=np.float64)
        df = np.count_nonzero(f)
        if df == 0:
            continue
        idf = np.log(1.0 + (len(docs) - df + 0.5) / (df + 0.5))
        score += idf * f * (k1 + 1) / (f + k1 * (1 - b + b * dl / avgdl))
    hit = np.flatnonzero(score > 0)
    order = hit[np.lexsort((docs[hit], -np.round(score[hit], 6)))][:k]
    return [(int(docs[i]), float(score[i])) for i in order]


def near_dup_corpus(vocab: Vocabulary, rng: np.random.Generator, n_docs: int,
                    median_len: float, dup_share: float, edit_share: float):
    """Originals plus perturbed copies of a random subset. Returns
    ``(ids, docs, planted)`` where ``planted`` holds ``(orig, copy)``
    id pairs."""
    docs = zipf_docs(vocab, rng, n_docs, median_len)
    n_dup = int(round(n_docs * dup_share))
    sources = rng.choice(n_docs, size=n_dup, replace=False)
    planted = []
    for j, src in enumerate(sources):
        toks = list(docs[src])
        for pos in np.flatnonzero(rng.random(len(toks)) < edit_share):
            toks[pos] = vocab.words[int(vocab.draw(rng, 1)[0])]
        planted.append((int(src), n_docs + j))
        docs.append(toks)
    return list(range(len(docs))), docs, planted


def shingles(toks: "list[str]", n: int = 3) -> "set[str]":
    """Distinct word n-grams, stopwords kept; short docs fall back to
    their tokens (the operator's documented semantics)."""
    if len(toks) < n:
        return set(toks)
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def bpe_reference(docs: "list[list[str]]", n_merges: int) -> "list[tuple[int, str, str, int]]":
    """Greedy BPE over the distinct-token frequency table: adjacent pair
    counts weighted by token frequency (overlapping pairs count), argmax
    by count then (left, right) ascending, non-overlapping left-to-right
    merges."""
    freq = Counter(t for toks in docs for t in toks)
    state = [(list(tok), n) for tok, n in freq.items()]
    merges = []
    for step in range(n_merges):
        pairs: Counter = Counter()
        for syms, n in state:
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        (a, b_), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b_, cnt))
        new_state = []
        for syms, n in state:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b_:
                    out.append(a + b_)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_state.append((out, n))
        state = new_state
    return merges


def clustered_vectors(rng: np.random.Generator, n: int, n_queries: int,
                      dim: int, n_clusters: int, noise: float):
    """Unit-norm-ish clustered vectors plus held-out queries drawn from
    the same mixture."""
    centers = rng.normal(size=(n_clusters, dim))
    pick = rng.integers(0, n_clusters, size=n + n_queries)
    x = (centers[pick] + noise * rng.normal(size=(n + n_queries, dim))).astype(np.float32)
    return x[:n], x[n:]


def write_embeddings(sf_dir: str, vecs: np.ndarray) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    n, dim = vecs.shape
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(vecs.reshape(-1), pa.float32()),
    )
    pq.write_table(
        pa.table({"vec_id": pa.array(np.arange(n), pa.int64()), "embedding": emb}),
        f"{sf_dir}/embeddings.parquet",
    )


def brute_topk(vecs: np.ndarray, queries: np.ndarray, k: int) -> "list[list[int]]":
    """Exact cosine top-k ids per query, ties by ascending id."""
    v = vecs.astype(np.float64)
    q = queries.astype(np.float64)
    cos = (q @ v.T) / (np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    return [list(np.lexsort((np.arange(len(v)), -np.round(row, 6)))[:k]) for row in cos]
