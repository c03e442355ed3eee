"""Tests of the benchmark harness itself (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import gen  # noqa: E402
import stats  # noqa: E402
import truth  # noqa: E402


def test_percentile_is_nearest_rank():
    vals = list(range(1, 11))
    assert stats.percentile(vals, 50) == 5
    assert stats.percentile(vals, 55) == 6
    assert stats.percentile(vals, 100) == 10
    assert stats.percentile([3.0], 99.9) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, expected",
    [
        (25, (60.0, 15, 10)),  # p65 would leave only 8 beyond
        (20, (50.0, 10, 10)),
        (19, (100.0, 19, 0)),  # too few samples: the maximum
        (1000, (99.0, 990, 10)),  # p99.9 would leave 1 beyond
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, expected):
    vals = list(range(1, n + 1))
    np.random.default_rng(0).shuffle(vals)
    assert stats.tail(vals) == expected


def test_tail_counts_only_samples_strictly_beyond():
    # 30 equal samples: no percentile has anything beyond it
    assert stats.tail([5.0] * 30) == (100.0, 5.0, 0)


def test_recall():
    assert stats.recall([1, 2, 3], [2, 3, 4, 5]) == 0.5
    assert stats.recall({(1, 2)}, {(1, 2)}) == 1.0
    with pytest.raises(ValueError):
        stats.recall([1], [])


def test_spread_is_iqr_over_median():
    assert stats.spread([10.0] * 5) == 0.0
    assert stats.spread([1, 2, 3, 4, 5]) == pytest.approx((4.5 - 1.5) / 3)


def test_corpus_components_are_equally_sized():
    x = gen.corpus(4, 32 * gen.COMPONENTS).astype(np.float64)
    centres = gen._centres(4).astype(np.float64)
    nearest = ((x[:, None, :] - centres[None]) ** 2).sum(axis=2).argmin(axis=1)
    assert np.bincount(nearest, minlength=gen.COMPONENTS).tolist() == [32] * gen.COMPONENTS


def test_vector_inputs_are_byte_identical_per_seed():
    a = gen.digest(gen.corpus(7, 300), gen.queries(7, gen.QUERY, 5, 4),
                   *gen.merge_batch(7, 2, 300, 20), gen.append_batch(7, 2, 10))
    b = gen.digest(gen.corpus(7, 300), gen.queries(7, gen.QUERY, 5, 4),
                   *gen.merge_batch(7, 2, 300, 20), gen.append_batch(7, 2, 10))
    assert a == b
    assert gen.digest(gen.corpus(8, 300)) != gen.digest(gen.corpus(7, 300))
    assert gen.corpus(7, 300).dtype == np.float32
    assert gen.corpus(7, 300).shape == (300, gen.DIM)


def test_query_streams_do_not_depend_on_consumption_and_never_repeat():
    q = [gen.queries(3, gen.QUERY, i, 1)[0] for i in range(50)]
    assert np.array_equal(gen.queries(3, gen.QUERY, 17, 1)[0], q[17])
    flat = {v.tobytes() for v in q}
    assert len(flat) == 50
    warm = gen.queries(3, gen.WARM, 0, 2)
    assert not any(np.array_equal(w, x) for w in warm for x in q)


def test_merge_batch_replaces_distinct_live_ids():
    ids, vecs = gen.merge_batch(1, 0, 500, 100)
    assert len(set(ids.tolist())) == 100
    assert ids.min() >= 0 and ids.max() < 500
    assert vecs.shape == (100, gen.DIM)


def test_text_corpus_is_deterministic_and_plants_duplicates():
    docs, family = gen.texts(5, 400)
    assert (docs, family) == gen.texts(5, 400)
    assert docs != gen.texts(6, 400)[0]
    planted = truth.planted_pairs(family)
    exact = [(a, b) for a, b in planted if docs[a] == docs[b]]
    near = [(a, b) for a, b in planted if docs[a] != docs[b]]
    # the planted shares are exact, so the dedup work does not vary by seed
    assert len(exact) == round(400 * gen.EXACT_SHARE) and len(near) == round(400 * gen.NEAR_SHARE)
    assert all(a < b for a, b in planted)
    for a, b in near:
        ta, tb = docs[a].split(" "), docs[b].split(" ")
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) <= 3
    assert all(family[family[i]] == family[i] for i in range(len(docs)))


def test_exact_groups_key_on_token_sets():
    groups = truth.exact_groups(["b a", "a b", "a b b", "c"])
    assert sorted(groups.values()) == [(0, 3), (3, 1)]


def _rows(dist, ids):
    return [(i, dist[i]) for i in ids]


def test_check_topk_accepts_a_correct_answer():
    x = gen.corpus(1, 200).astype(np.float64)
    q = gen.queries(1, gen.QUERY, 0, 1)[0]
    dist = truth.l2_to(x, q)
    top = truth.topk_ids(dist, 10)
    assert truth.check_topk(_rows(dist, top), dist, 10, exact=True) == []
    # an approximate answer may miss true neighbours but not lie about them
    other = list(top[:9]) + [int(np.argsort(dist)[50])]
    assert truth.check_topk(_rows(dist, other), dist, 10, exact=False) == []
    assert truth.check_topk(_rows(dist, other), dist, 10, exact=True)


@pytest.mark.parametrize("break_it", ["distance", "order", "duplicate", "short", "unknown"])
def test_check_topk_flags_wrong_answers(break_it):
    x = gen.corpus(1, 200).astype(np.float64)
    q = gen.queries(1, gen.QUERY, 1, 1)[0]
    dist = truth.l2_to(x, q)
    rows = _rows(dist, truth.topk_ids(dist, 10))
    if break_it == "distance":
        rows[3] = (rows[3][0], rows[3][1] * 1.001)
    elif break_it == "order":
        rows[0], rows[1] = rows[1], rows[0]
    elif break_it == "duplicate":
        rows[9] = rows[8]
    elif break_it == "short":
        rows = rows[:9]
    else:
        rows[9] = (10_000, 0.0)
    assert truth.check_topk(rows, dist, 10, exact=False)
