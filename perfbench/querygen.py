"""Seeded query stream for the serve and update_mix workloads.

The stream is a sequence of rounds; each round is a seeded permutation of
every shape in ``SHAPES``, so any window of at least one round holds every
shape and the shape mix of a window barely depends on the seed.  Terms are
drawn from the corpus generator's vocabulary with the same Zipf popularity
the generator uses, so popular terms repeat (the engine's term-meta cache
hits) while the tail is mostly seen for the first time.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from apache___solr_spark.analysis.stopwords import ENGLISH_STOP_WORDS
from apache___solr_spark.corpus import HEAD_TERMS, VOCAB_SIZE, _vocab

SHAPES = (
    "term",
    "head",
    "rare",
    "or",
    "and",
    "not",
    "phrase",
    "prefix",
    "fuzzy",
    "absent",
    "stopword",
)
K100_SHARE = 0.2  # share of queries asking for k=100 instead of k=10
ZIPF_S = 1.1  # the corpus generator's body-term exponent


def query_stream(seed: int, n_rounds: int, phrase_docs: list[list[str]]) -> list[dict]:
    """``n_rounds`` x ``len(SHAPES)`` queries as dicts (qid, shape, query, k).

    ``phrase_docs`` are analyzed token lists of sampled corpus pages; phrase
    queries take two adjacent tokens from one of them, so they match."""
    rng = np.random.default_rng([seed, 0x51])
    vocab = _vocab()
    ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
    probs = 1.0 / ranks**ZIPF_S
    probs /= probs.sum()
    stop = sorted(ENGLISH_STOP_WORDS)
    docs = [d for d in phrase_docs if len(d) >= 2]
    if not docs:
        raise ValueError("phrase_docs holds no page with two tokens")

    def zipf(lo: int = 0, hi: int = VOCAB_SIZE) -> str:
        p = probs[lo:hi] / probs[lo:hi].sum()
        return vocab[lo + int(rng.choice(hi - lo, p=p))]

    def make(shape: str, i: int) -> str:
        if shape == "term":
            return zipf()
        if shape == "head":
            return HEAD_TERMS[int(rng.integers(len(HEAD_TERMS)))]
        if shape == "rare":
            return vocab[int(rng.integers(3000, VOCAB_SIZE))]
        if shape == "or":
            return f"{zipf()} {zipf()}"
        if shape == "and":
            return f"{zipf(0, 200)} AND {zipf(0, 200)}"
        if shape == "not":
            return f"{zipf()} -{HEAD_TERMS[int(rng.integers(len(HEAD_TERMS)))]}"
        if shape == "phrase":
            d = docs[int(rng.integers(len(docs)))]
            j = int(rng.integers(len(d) - 1))
            return f'"{d[j]} {d[j + 1]}"'
        if shape == "prefix":
            return zipf(0, 300)[:3] + "*"
        if shape == "fuzzy":
            t = zipf(0, 300)
            while len(t) < 5:
                t = zipf(0, 300)
            return t + "~1"
        if shape == "absent":
            # digits never occur in the generated vocabulary
            return f"nohit{seed}q{i}"
        picks = rng.choice(len(stop), size=3, replace=False)
        return " ".join(stop[int(p)] for p in picks)

    out = []
    for _ in range(n_rounds):
        for shape in rng.permutation(SHAPES):
            qid = len(out)
            k = 100 if rng.random() < K100_SHARE else 10
            out.append({"qid": qid, "shape": str(shape), "query": make(str(shape), qid), "k": k})
    return out


def stream_summary(queries: list[dict], before: list[dict] = ()) -> dict:
    """Per-shape counts and the share of queries whose every term was
    already used earlier, in the stream or in the ``before`` queries (the
    warm-up)."""
    seen = {t for q in before for t in _terms(q["query"])}
    repeats = 0
    for q in queries:
        terms = _terms(q["query"])
        if terms and all(t in seen for t in terms):
            repeats += 1
        seen.update(terms)
    return {
        "per_shape": dict(Counter(q["shape"] for q in queries)),
        "repeat_term_share": repeats / len(queries) if queries else 0.0,
    }


def _terms(query: str) -> list[str]:
    words = query.replace('"', " ").replace("AND", " ").split()
    return [w.lstrip("-").rstrip("*").split("~")[0] for w in words]
