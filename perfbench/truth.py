"""Brute-force numpy ground truth and result checks.

A check returns a list of problem strings; an empty list means the
program's answer is correct.
"""

from __future__ import annotations

import hashlib

import numpy as np

# Distances are recomputed here in float64 from the same float32 inputs;
# the program may sum in another order, so allow a relative slack far
# below any gap between distinct distances of this data.
REL_TOL = 1e-6


def l2_to(corpus64: np.ndarray, q: np.ndarray) -> np.ndarray:
    """True L2 distance from every corpus row to ``q``."""
    return np.sqrt(((corpus64 - q.astype(np.float64)) ** 2).sum(axis=1))


def topk_ids(dist: np.ndarray, k: int) -> np.ndarray:
    """Ids of the k nearest rows, ordered by (distance, id)."""
    order = np.lexsort((np.arange(len(dist)), dist))
    return order[:k]


def check_topk(rows, dist: np.ndarray, k: int, exact: bool) -> list[str]:
    """``rows`` are (id, distance) pairs for one query.

    Exact results must be a (distance, id)-ordered top-k of the whole
    corpus; approximate ones must return k distinct rows ordered by
    (distance, id), each carrying its true distance."""
    problems = []
    ids = [int(r[0]) for r in rows]
    ds = [float(r[1]) for r in rows]
    n = len(dist)
    if len(ids) != min(k, n):
        problems.append(f"{len(ids)} rows, expected {min(k, n)}")
    if len(set(ids)) != len(ids):
        problems.append("duplicate ids")
    bad = [i for i in ids if not 0 <= i < n]
    if bad:
        return problems + [f"unknown ids {bad[:3]}"]
    for i, d in zip(ids, ds):
        if abs(d - dist[i]) > REL_TOL * (1.0 + dist[i]):
            problems.append(f"id {i}: distance {d!r}, true {dist[i]!r}")
            break
    if list(zip(ds, ids)) != sorted(zip(ds, ids)):
        problems.append("not ordered by (distance, id)")
    if exact and ids:
        kth = dist[topk_ids(dist, k)[-1]]
        if max(ds) > kth + REL_TOL * (1.0 + kth):
            problems.append(f"k-th distance {max(ds)!r} beyond true {kth!r}")
    return problems


def fingerprint(text: str) -> str:
    """md5 of the sorted distinct lowercase token set — the key
    ``functions.text.doc_fingerprint`` computes."""
    toks = sorted(set(text.lower().split(" ")))
    return hashlib.md5(" ".join(toks).encode("utf-8")).hexdigest()


def exact_groups(docs: list[str]) -> dict[str, tuple[int, int]]:
    """fingerprint -> (lowest id, group size)."""
    out: dict[str, tuple[int, int]] = {}
    for i, t in enumerate(docs):
        fp = fingerprint(t)
        lo, size = out.get(fp, (i, 0))
        out[fp] = (min(lo, i), size + 1)
    return out


def planted_pairs(family: list[int]) -> set[tuple[int, int]]:
    """(lower id, higher id) of each (original, derived) pair the
    generator planted."""
    return {(min(f, i), max(f, i)) for i, f in enumerate(family) if f != i}


def same_family(family: list[int], a: int, b: int) -> bool:
    return family[a] == family[b]
