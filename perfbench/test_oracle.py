"""Hand-computed cases for the benchmark's reference computations.

    python3 -m pytest perfbench/test_oracle.py -q
"""

import math

import numpy as np

import oracle


def test_tokenize_lowercases_and_splits_on_non_alphanumerics():
    assert oracle.tokenize("Hello, World! a1b2--x ") == ["hello", "world", "a1b2", "x"]
    assert oracle.tokenize("...") == []


def test_hash_vector_is_deterministic_unit_norm_and_task_specific():
    a = oracle.hash_vector("some text", 8, "doc")
    assert np.array_equal(a, oracle.hash_vector("some text", 8, "doc"))
    assert math.isclose(float(np.linalg.norm(a)), 1.0, rel_tol=1e-12)
    assert not np.allclose(a, oracle.hash_vector("some text", 8, "query"))


def test_l2_topk_orders_by_distance_then_id():
    m = np.array([[0, 0], [3, 4], [1, 0], [0, 1]], dtype=np.float32)
    ids = np.array([10, 11, 12, 13])
    # distances 0, 5, 1, 1: the tie at 1 breaks by id
    assert oracle.l2_topk(m, ids, np.array([0.0, 0.0]), 3) == [(10, 0.0), (12, 1.0), (13, 1.0)]
    assert oracle.l2_topk(m, ids, np.array([3.0, 4.0]), 1) == [(11, 0.0)]


def test_maxsim_sums_best_dot_product_per_query_vector():
    doc = np.array([[1.0, 0.0], [0.0, 1.0]])
    query = np.array([[1.0, 0.0], [1.0, 1.0]])
    other = np.array([[2.0, 0.0]])
    flat = np.concatenate([doc, other])
    # doc: q1 max(1, 0) = 1, q2 max(1, 1) = 1 -> MaxSim 2, distance -2
    # other: q1 2, q2 2 -> distance -4, ranked first
    dist = oracle.maxsim_all(flat, np.array([0, 2]), query)
    assert list(dist) == [-2.0, -4.0]
    assert oracle.ranked_by_distance(np.array([7, 8]), dist, 2) == [(8, -4.0), (7, -2.0)]


def test_bm25_matches_hand_computation():
    bm = oracle.Bm25({"a": "x y", "b": "x x z", "c": "z"})
    # N = 3, dl = 2, 3, 1, avgdl = 2, df(x) = 2
    # idf(x) = ln((3 - 2 + 0.5) / (2 + 0.5) + 1) = ln(1.6) = 0.4700036
    # a: tf 1, norm 1 + 1.2 * (0.25 + 0.75 * 2/2) = 2.2  -> idf * 2.2 / 2.2 = 0.470004
    # b: tf 2, norm 2 + 1.2 * (0.25 + 0.75 * 3/2) = 3.65 -> idf * 4.4 / 3.65 = 0.566580
    top, lookup = bm.topk("X x", 10)
    assert top == [("b", 0.56658), ("a", 0.470004)]
    assert lookup("c") is None and lookup("a") == 0.470004


def test_bm25_ties_break_by_id():
    bm = oracle.Bm25({"d2": "q", "d1": "q", "d3": "r"})
    top, _ = bm.topk("q", 2)
    assert [d for d, _ in top] == ["d1", "d2"]
    assert top[0][1] == top[1][1]


def test_rrf_uses_zero_based_positions_with_k_60():
    # a: 1/60; b: 1/61 + 1/60; c: 1/61
    assert oracle.rrf_topk([["a", "b"], ["b", "c"]], 3) == [
        ("b", 0.03306),
        ("a", 0.016667),
        ("c", 0.016393),
    ]
    # equal fused scores break by id
    assert oracle.rrf_topk([["y"], ["x"]], 2) == [("x", 0.016667), ("y", 0.016667)]


def test_compare_ranked():
    want = [("a", 3.0), ("b", 2.0), ("c", 1.0)]
    assert oracle.compare_ranked(want, want, 1e-9) is None
    assert "score" in oracle.compare_ranked([("a", 3.0), ("b", 2.5), ("c", 1.0)], want, 1e-9)
    assert "length" in oracle.compare_ranked(want[:2], want, 1e-9)
    # ids swapped in a tie run that ends before last place: sets agree
    tied = [("a", 2.0), ("b", 2.0), ("c", 1.0)]
    assert oracle.compare_ranked([("b", 2.0), ("a", 2.0), ("c", 1.0)], tied, 1e-9) is None
    # a different id in a non-final run is an error
    assert "ids" in oracle.compare_ranked([("a", 3.0), ("x", 2.0), ("c", 1.0)], want, 1e-9)
    # last place tied with an id beyond k: accepted when its score is true
    truth = {"a": 3.0, "b": 2.0, "c": 1.0, "d": 1.0}.get
    got = [("a", 3.0), ("b", 2.0), ("d", 1.0)]
    assert oracle.compare_ranked(got, want, 1e-9, truth=truth) is None
    assert "reference" in oracle.compare_ranked(
        got, want, 1e-9, truth={"a": 3.0, "b": 2.0, "c": 1.0}.get
    )
