"""Seeded input generators.

Every input the program sees comes from here, and each draw is keyed by
``(seed, stream, index)`` alone, so the same seed gives byte-identical
inputs however many of them a time-bounded run happens to consume.
"""

from __future__ import annotations

import hashlib

import numpy as np

DIM = 768  # the reference table's embedding width
COMPONENTS = 8  # Gaussian-mixture components of the vector corpus
# Component centres are N(0, SPREAD^2) per dimension around unit-variance
# noise: close enough that IVF routing misses some true neighbours.
SPREAD = 0.3

# stream tags: one independent random stream per kind of input
CENTRES, CORPUS, QUERY, WARM, APPEND, MERGE, TEXT, BATCH = range(8)


def rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, stream, index]))


def _centres(seed: int) -> np.ndarray:
    g = rng(seed, CENTRES)
    return (g.standard_normal((COMPONENTS, DIM)) * SPREAD).astype(np.float32)


def _draw(seed: int, stream: int, index: int, n: int, balanced: bool = False) -> np.ndarray:
    g = rng(seed, stream, index)
    if balanced:
        comp = g.permutation(n) % COMPONENTS
    else:
        comp = g.integers(0, COMPONENTS, n)
    noise = g.standard_normal((n, DIM), dtype=np.float32)
    return _centres(seed)[comp] + noise


def corpus(seed: int, n: int) -> np.ndarray:
    """(n, DIM) float32 corpus; row i is the vector of id i. Components
    are equally sized, so the work a search does depends little on the
    seed."""
    return _draw(seed, CORPUS, 0, n, balanced=True)


def queries(seed: int, stream: int, index: int, n: int) -> np.ndarray:
    """Batch ``index`` of a query stream: (n, DIM) float32 vectors drawn
    from the corpus mixture. Distinct (stream, index) never repeat."""
    return _draw(seed, stream, index, n)


def append_batch(seed: int, rnd: int, n: int) -> np.ndarray:
    return _draw(seed, APPEND, rnd, n)


def merge_batch(seed: int, rnd: int, live: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Replacement vectors for ``n`` distinct existing ids in [0, live)."""
    g = rng(seed, MERGE, rnd)
    ids = np.sort(g.choice(live, size=n, replace=False)).astype(np.int64)
    return ids, _draw(seed, MERGE, 10_000 + rnd, n)


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    i += 26 * 26  # every word has at least three letters
    while i:
        i, r = divmod(i, 26)
        out.append(letters[r])
    return "".join(out)


VOCAB = 4000
# Shares of the text corpus planted as exact and as near copies.
EXACT_SHARE = 0.1
NEAR_SHARE = 0.15


def texts(seed: int, n: int):
    """Text corpus with planted duplicates.

    Returns ``(docs, family)``: ``docs[i]`` is the text of doc id i and
    ``family[i]`` the id of the original it was derived from (itself for
    an original). Exactly ``EXACT_SHARE`` of the docs are exact copies
    and ``NEAR_SHARE`` near copies (3 of 40-80 tokens substituted), each
    of a different original, so the collision structure, and with it
    the dedup work, is the same for every seed.
    """
    g = rng(seed, TEXT)
    words = [_word(i) for i in range(VOCAB)]
    weights = 1.0 / (np.arange(VOCAB) + 10.0)
    weights /= weights.sum()
    n_exact, n_near = round(n * EXACT_SHARE), round(n * NEAR_SHARE)
    n_orig = n - n_exact - n_near
    docs = [
        " ".join(words[j] for j in g.choice(VOCAB, size=int(g.integers(40, 81)), p=weights))
        for _ in range(n_orig)
    ]
    family = list(range(n_orig))
    sources = g.choice(n_orig, size=n_exact + n_near, replace=False)
    for j, src in enumerate(sources):
        toks = docs[src].split(" ")
        if j >= n_exact:
            for pos in g.choice(len(toks), size=3, replace=False):
                toks[pos] = words[g.choice(VOCAB, p=weights)]
        docs.append(" ".join(toks))
        family.append(int(src))
    # shuffle ids so planted docs are spread over the id range
    perm = g.permutation(n)  # new id of old doc i is perm[i]
    out_docs = [""] * n
    out_family = [0] * n
    for old, new in enumerate(perm):
        out_docs[new] = docs[old]
        out_family[new] = int(perm[family[old]])
    return out_docs, out_family


def digest(*arrays) -> str:
    """sha256 over inputs, for determinism checks."""
    h = hashlib.sha256()
    for a in arrays:
        if isinstance(a, np.ndarray):
            h.update(a.tobytes())
        else:
            h.update(repr(a).encode())
    return h.hexdigest()
