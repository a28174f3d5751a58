"""Seeded benchmark inputs: questions, batches and phrases.

Every generator is a pure function of its seed. Questions follow the
corpus's own Zipf(1.1) law over ``pages.VOCAB``: ``VOCAB[i]`` is the term
of rank ``i + 1``, the same table the synthesizer draws document terms
from. Phrases are adjacent term pairs read out of seeded documents with
``pages.doc_terms``, so every phrase occurs in the corpus.
"""

from __future__ import annotations

import numpy as np

from sifter_mrc_search_engine_spark.sources import pages

#: term -> rank (1 = most frequent) under the synthesizer's Zipf law
RANK = {t: i + 1 for i, t in enumerate(pages.VOCAB)}

_W = 1.0 / np.power(np.arange(1, pages.VOCAB_SIZE + 1, dtype=np.float64), pages.ZIPF_S)
_CDF = np.cumsum(_W / _W.sum())

#: rank windows of the two phrase classes
HEAD_MAX_RANK = 10
TAIL_MIN_RANK = 500


def questions(seed: int, count: int, stream: int = 0) -> list[str]:
    """``count`` questions of 1-4 Zipf-drawn terms. ``stream`` selects an
    independent sequence for the same seed (warm-up vs timed inputs)."""
    rng = np.random.default_rng([seed, 1, stream])
    lens = rng.integers(1, 5, size=count)
    u = rng.random(int(lens.sum()))
    ranks = np.minimum(np.searchsorted(_CDF, u, side="right"), pages.VOCAB_SIZE - 1)
    words = [pages.VOCAB[r] for r in ranks.tolist()]
    out, at = [], 0
    for n in lens.tolist():
        out.append(" ".join(words[at : at + n]))
        at += n
    return out


def batches(seed: int, count: int, size: int = 32, stream: int = 0) -> list[list[str]]:
    """``count`` batches of ``size`` questions each."""
    qs = questions(seed, count * size, stream=100 + stream)
    return [qs[i * size : (i + 1) * size] for i in range(count)]


def phrases(seed: int, n_docs: int, count: int, kind: str, stream: int = 0) -> list[str]:
    """``count`` distinct two-term phrases that occur in the corpus.

    ``kind='head'``: both terms rank <= HEAD_MAX_RANK (df near the corpus
    size); ``kind='tail'``: both terms rank >= TAIL_MIN_RANK (small df).
    Documents are visited in a seeded order; each contributes its first
    qualifying adjacent pair of two different terms."""
    if kind == "head":
        ok = lambda r: r <= HEAD_MAX_RANK  # noqa: E731
    elif kind == "tail":
        ok = lambda r: r >= TAIL_MIN_RANK  # noqa: E731
    else:
        raise ValueError(f"unknown phrase kind {kind!r}")
    rng = np.random.default_rng([seed, 2, stream, 0 if kind == "head" else 1])
    out: list[str] = []
    seen: set[str] = set()
    for d in rng.permutation(n_docs).tolist():
        terms = pages.doc_terms(d, seed)
        for a, b in zip(terms, terms[1:]):
            if a != b and ok(RANK[a]) and ok(RANK[b]):
                p = f"{a} {b}"
                if p not in seen:
                    seen.add(p)
                    out.append(p)
                break
        if len(out) == count:
            return out
    raise ValueError(f"corpus of {n_docs} docs has fewer than {count} {kind} phrases")
