"""Independent answer checks: a numpy power-iteration oracle plus the
comparison helpers the benchmark scores answers with.

The oracle follows the reference's power method (Power_Method.java:43-101):
``iterations`` synchronous pushes, mass at an out-degree-0 node goes back to
the source. It shares no code with the engine.
"""

from __future__ import annotations

import math

import numpy as np

ALPHA = 0.15
ORACLE_ITERATIONS = 100  # Power_Method.java:57; truncation error 0.85**100 < 1e-7


class Oracle:
    """Power iteration over one edge list, in the dense index space of the
    sorted node ids."""

    def __init__(self, ids: np.ndarray, src: np.ndarray, dst: np.ndarray, alpha: float = ALPHA):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.alpha = alpha
        n = len(self.ids)
        s = np.searchsorted(self.ids, src)
        d = np.searchsorted(self.ids, dst)
        out = np.bincount(s, minlength=n)
        order = np.argsort(d, kind="stable")
        self.e_src = s[order]
        self.e_w = 1.0 / out[self.e_src]
        d_sorted = d[order]
        self.seg_start = np.flatnonzero(np.r_[True, d_sorted[1:] != d_sorted[:-1]])
        self.seg_node = d_sorted[self.seg_start]
        self.dangling = out == 0
        self.out_deg = out

    @property
    def n(self) -> int:
        return len(self.ids)

    @property
    def m(self) -> int:
        return len(self.e_src)

    def dense(self, node_ids) -> np.ndarray:
        pos = np.searchsorted(self.ids, node_ids)
        if np.any(pos >= self.n) or np.any(self.ids[np.minimum(pos, self.n - 1)] != node_ids):
            raise KeyError(f"ids outside the graph: {node_ids!r}")
        return pos

    def unit(self, sources) -> np.ndarray:
        """(n, len(sources)) indicator columns of the sources."""
        u = np.zeros((self.n, len(sources)))
        u[self.dense(np.asarray(sources, dtype=np.int64)), np.arange(len(sources))] = 1.0
        return u

    def spread(self, push: np.ndarray, u: np.ndarray, dangling_returns: bool = True) -> np.ndarray:
        """Where the mass ``push`` (n, b) lands one step later: split evenly
        over each node's out-edges; at an out-degree-0 node it goes back to
        the column's source (``u``), or is dropped."""
        nr = np.zeros_like(push)
        nr[self.seg_node] = np.add.reduceat(push[self.e_src] * self.e_w[:, None], self.seg_start, axis=0)
        if dangling_returns:
            nr += push[self.dangling].sum(axis=0) * u
        return nr

    def ppr(
        self,
        sources: list[int],
        iterations: int = ORACLE_ITERATIONS,
        dangling_returns: bool = True,
    ) -> np.ndarray:
        """Single-source PPR for every source at once; returns (n, len(sources)).

        ``dangling_returns=False`` drops the mass that reaches an
        out-degree-0 node instead: the convention a reverse push (backward
        search, BASE) estimates, since it cannot know the source."""
        a = self.alpha
        u = self.unit(sources)
        r = u.copy()
        pi = np.zeros_like(u)
        for _ in range(iterations):
            pi += a * r
            r = self.spread((1.0 - a) * r, u, dangling_returns)
        return pi

    def batch_push(self, sources: list[int], rmax: float, supersteps: int) -> np.ndarray:
        """Reserves after ``supersteps`` frontier-synchronous forward-push
        supersteps: in each, every node whose residue r > 0 reaches
        rmax * out-degree (any r > 0 at an out-degree-0 node) pushes all of
        it at once. An out-degree-0 source keeps all its mass (pi = 1 at the
        source, before any push), as in the reference."""
        a = self.alpha
        u = self.unit(sources)
        pi = np.zeros_like(u)
        r = u.copy()
        keep = self.dangling[self.dense(np.asarray(sources, dtype=np.int64))]
        pi[:, keep], r[:, keep] = u[:, keep], 0.0
        thr = rmax * self.out_deg[:, None]
        for _ in range(supersteps):
            q = np.where((r > 0) & (self.dangling[:, None] | (r >= thr)), r, 0.0)
            if not q.any():
                break
            pi += a * q
            r = r - q + self.spread((1.0 - a) * q, u)
        return pi

    def push_residue(self, source: int, est: np.ndarray) -> np.ndarray:
        """The residue a forward push from ``source`` holds when its
        reserves are ``est``, whatever order it pushed in: node v pushed
        est[v] / alpha in all, so r = e_s - x + spread((1 - alpha) x) with
        x = est / alpha. A valid push leaves r >= 0 everywhere."""
        u = self.unit([source])
        x = est[:, None] / self.alpha
        return (u - x + self.spread((1.0 - self.alpha) * x, u))[:, 0]


def fora_rmax(n: int, m: int, epsilon: float, alpha: float = ALPHA) -> float:
    """Whole-graph FORA push threshold with delta = pfail = 1/n
    (Fora_Whole_Graph.java:86-87); ``fwdpush`` derives its rmax from it."""
    return epsilon * math.sqrt(1.0 / n / (3.0 * m * math.log(2.0 * n))) / (1.0 - alpha)


# ---------------------------------------------------------------------------
# Scoring helpers
# ---------------------------------------------------------------------------


def answer_vector(oracle: Oracle, rows) -> np.ndarray:
    """(node, ppr) rows -> dense vector; rejects unknown, repeated or
    non-positive entries, since the engine only returns ppr > 0 rows."""
    nodes = np.fromiter((r[0] for r in rows), dtype=np.int64, count=len(rows))
    vals = np.fromiter((r[1] for r in rows), dtype=np.float64, count=len(rows))
    if len(np.unique(nodes)) != len(nodes):
        raise ValueError("answer repeats a node")
    if not np.all(np.isfinite(vals)) or np.any(vals <= 0):
        raise ValueError("answer holds a non-positive or non-finite ppr")
    est = np.zeros(oracle.n)
    est[oracle.dense(nodes)] = vals
    return est


def max_err(est: np.ndarray, truth: np.ndarray) -> float:
    """MaxErr (Gen_Util.java scoring): largest absolute difference."""
    return float(np.max(np.abs(est - truth)))


def tie_aware_topk(values: dict[int, float], k: int) -> set[int]:
    """Every key whose value is >= the k-th largest; all keys if fewer than k
    (reference retrieveTopK, Forward_Push.java:413-429)."""
    if len(values) <= k:
        return set(values)
    kth = sorted(values.values(), reverse=True)[k - 1]
    return {key for key, v in values.items() if v >= kth}


def precision_at_k(answer: set[int], truth: np.ndarray, ids: np.ndarray, k: int) -> float:
    """Share of the oracle's tie-aware top-k found in the answer
    (operators/metrics.precision_at_k's definition)."""
    nz = np.flatnonzero(truth > 0)
    top = tie_aware_topk(dict(zip(ids[nz].tolist(), truth[nz].tolist())), k)
    return len(answer & top) / float(len(top))
