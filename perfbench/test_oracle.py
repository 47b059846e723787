"""Self-tests for the benchmark's oracle and scoring helpers.

Run with: python3 -m pytest perfbench -q
"""

import statistics

import numpy as np
import pytest

from oracle import ALPHA, Oracle, fora_rmax, max_err, precision_at_k, tie_aware_topk

BETA = 1.0 - ALPHA


def three_node():
    # 10 -> 20, 10 -> 30, 20 -> 10; 30 has out-degree 0
    return Oracle(np.array([10, 20, 30]), np.array([10, 10, 20]), np.array([20, 30, 10]))


def test_three_node_closed_form():
    # From 10 every walk is back at 10 after exactly two steps (via 20, or
    # via dangling 30 whose mass returns to the source), so
    # pi(10) = a / (1 - b^2) and each neighbour holds half of a*b / (1 - b^2).
    pi = three_node().ppr([10])[:, 0]
    head = ALPHA / (1.0 - BETA**2)
    np.testing.assert_allclose(pi, [head, head * BETA / 2, head * BETA / 2], atol=1e-6)
    assert pi.sum() == pytest.approx(1.0, abs=1e-6)


def test_dangling_source_keeps_all_mass():
    pi = three_node().ppr([30])[:, 0]
    np.testing.assert_allclose(pi, [0.0, 0.0, 1.0], atol=1e-12)


def test_batched_columns_match_single_runs():
    o = three_node()
    batch = o.ppr([10, 20, 30])
    for b, s in enumerate([10, 20, 30]):
        np.testing.assert_allclose(batch[:, b], o.ppr([s])[:, 0], atol=1e-15)


def test_dropped_dangling_mass():
    # without the return rule the walk from 10 only comes back via 20:
    # pi(10) = a / (1 - b^2 / 2), and the mass that reaches 30 is lost
    pi = three_node().ppr([10], dangling_returns=False)[:, 0]
    head = ALPHA / (1.0 - BETA**2 / 2)
    np.testing.assert_allclose(pi, [head, head * BETA / 2, head * BETA / 2], atol=1e-6)
    assert pi.sum() < 1.0


def test_push_without_threshold_is_power_iteration():
    # with rmax = 0 every node holding residue pushes in every superstep
    o = three_node()
    for steps in (1, 2, 5):
        np.testing.assert_allclose(o.batch_push([10, 20], 0.0, steps), o.ppr([10, 20], iterations=steps), atol=1e-15)


def test_push_stops_below_threshold():
    # rmax = 0.5: after superstep 1, 20 holds b/2 < 0.5 * 1 and stays put,
    # dangling 30 pushes its b/2 back to 10; then 10 holds b^2/2 < 0.5 * 2
    pi = three_node().batch_push([10], 0.5, 10)[:, 0]
    np.testing.assert_allclose(pi, [ALPHA, 0.0, ALPHA * BETA / 2], atol=1e-15)


def test_residue_of_a_finished_push():
    o = three_node()
    r = o.push_residue(10, np.array([ALPHA, 0.0, ALPHA * BETA / 2]))
    np.testing.assert_allclose(r, [BETA**2 / 2, BETA / 2, 0.0], atol=1e-15)
    # dropping 30's reserve leaves residue at an out-degree-0 node, where a
    # finished push holds none; dropping 10's leaves negative residue
    assert o.push_residue(10, np.array([ALPHA, 0.0, 0.0]))[2] > 0.0
    assert o.push_residue(10, np.array([0.0, 0.0, ALPHA * BETA / 2])).min() < 0.0


def test_dangling_source_is_answered_before_any_push():
    o = three_node()
    np.testing.assert_allclose(o.batch_push([30], 0.0, 3)[:, 0], [0.0, 0.0, 1.0], atol=1e-15)
    np.testing.assert_allclose(o.push_residue(30, np.array([0.0, 0.0, 1.0])), 0.0, atol=1e-15)


def test_fora_rmax_formula():
    # eps * sqrt(delta / (3 m ln(2 / pfail))) / (1 - alpha), delta = pfail = 1/n
    assert fora_rmax(100, 300, 0.5) == pytest.approx(0.5 * np.sqrt(0.01 / (900 * np.log(200))) / BETA)


def test_unknown_id_is_rejected():
    with pytest.raises(KeyError):
        three_node().ppr([11])


def test_tie_aware_topk_keeps_ties():
    vals = {1: 0.5, 2: 0.2, 3: 0.2, 4: 0.1}
    assert tie_aware_topk(vals, 2) == {1, 2, 3}
    assert tie_aware_topk(vals, 9) == {1, 2, 3, 4}


def test_scores():
    truth = np.array([0.5, 0.3, 0.2])
    assert max_err(np.array([0.4, 0.3, 0.3]), truth) == pytest.approx(0.1)
    assert precision_at_k({10, 30}, truth, np.array([10, 20, 30]), 2) == 0.5


def test_hd_median():
    from run import hd_median

    assert hd_median([]) == 0.0
    assert hd_median([7.0]) == 7.0
    assert hd_median([3.0] * 9) == pytest.approx(3.0)
    # symmetric samples: the estimate is their centre
    assert hd_median([1.0, 2.0, 4.0, 6.0, 7.0]) == pytest.approx(4.0)
    # a lone far sample moves it far less than it moves the mean
    far = [float(x) for x in range(1, 40)] + [1000.0]
    assert 20.0 < hd_median(far) < 21.0 < statistics.fmean(far) - 20.0


def test_zipf_quantiles_fix_the_degree_multiset():
    import gen

    a = gen.ssppr_graph(1, n=600, m=6000)
    b = gen.ssppr_graph(2, n=600, m=6000)
    deg = [np.sort(np.bincount(np.searchsorted(ids, src), minlength=len(ids))) for ids, src, _ in (a, b)]
    # the same multiset of out-degrees, up to the duplicate pairs dropped
    assert np.abs(deg[0] - deg[1]).sum() <= 0.02 * 6000
    assert (deg[0] == 0).sum() == (deg[1] == 0).sum() == 120
