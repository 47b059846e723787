"""PPR query benchmark.

    python3 perfbench/run.py --workload ssppr_local --seed 1 --seconds 3 --trace 0

One closed-loop client (one process, one thread) drives the engine's public
API on Spark ``local[nproc]``: it sends the next query only after the
previous answer is collected. BENCHMARK.json lists the workloads and
metrics; README.md maps each layer metric to the end-to-end metric it
should move.

* ``--trace 0`` measures the end-to-end metrics with tracing off.
* ``--trace 1`` runs the same workload with Spark's event log on and each
  query tagged with ``setJobDescription``; it prints the per-layer metrics.

Every answer is checked against an independent numpy oracle (oracle.py) or,
for BASE lookups, against the rows the store holds. The last stdout line is
one JSON object ``{correct, attempted, failed, metrics}``; the lines above
it are a readable table. A sidecar with every query, the host and the path
each query took is written to ``.perfbench/results/``. All scratch files
(inputs, Spark local dirs, event logs, the prep store) live under
``.perfbench/`` in the working tree and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")

SETUP_REPEATS = 3  # setup_s is the median of these
# A run is whole blocks, so every run has the same query mix; it ends at
# the first block boundary after --seconds.
LOCAL_BLOCK = 20  # ssppr_local: sources per block, 4 queries each
LOCAL_WARM = 3  # ssppr_local: untimed warm-up cycles
DIST_BLOCK = 6  # ssppr_distributed: sources per block, 1 query each
DIST_WARM = 2  # ssppr_distributed: untimed warm-up queries
BASE_BLOCK = 2  # base_prep_lookup: (lookup, top-k lookup) pairs per block
EPSILON = 0.5
K = 10
DIST_STEPS = 3  # superstep bound of every forced-distributed query
BASE_THRESHOLD = 1e-4
KERNEL_SAMPLE = 16  # BASE prep targets timed through the kernel directly
TAIL_PCT = 90.0

# Tolerances, fixed per algorithm before the runs they judge.
#
# Forward push is checked exactly: a local answer must be a finished push at
# the reference's rmax (the residue its reserves imply is >= 0 and below
# rmax * out-degree at every node, whatever order it pushed in); a
# forward-distributed answer must equal DIST_STEPS frontier-synchronous
# supersteps. PUSH_TOL only absorbs float rounding.
PUSH_TOL = 1e-9
# FORA and Monte-Carlo answers hold all the probability mass (every walk
# ends at a node), so a dropped row of mass > MASS_TOL fails.
MASS_TOL = 1e-9
# The largest absolute error of a whole-graph answer against the oracle:
# about twice the largest seen over 160 sources of the ssppr generator.
# FORA's error is mostly a bias of ~0.01 at the source: the reference's
# remedy walks restart at their own start at an out-degree-0 node, where
# the oracle returns the mass to the query's source.
MAX_ERR_TOL = {
    "fora": 0.02,
    "montecarlo": 0.003,
    # against the reverse-push convention (dangling mass dropped): at most
    # rmax = threshold of error, plus the threshold cut itself
    "base_lookup": 2 * BASE_THRESHOLD,
}

LOCAL_ALGOS = ("fwdpush", "fora", "montecarlo", "fora_topk")
DIST_ALGOS = ("fwdpush_dist",)
BASE_ALGOS = ("base_lookup", "base_topk_lookup")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("ssppr_local", "ssppr_distributed", "base_prep_lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def tail(vals: list[float]) -> tuple[float, int]:
    """(value, samples above it) of the nearest-rank p90. A run holds 4 to
    80 timed queries; on the smaller runs a percentile with ten samples
    beyond it would not sit above the median, so every workload uses p90
    and the count beyond it is reported."""
    xs = sorted(vals)
    v = xs[max(0, math.ceil(TAIL_PCT / 100.0 * len(xs)) - 1)]
    return v, sum(1 for x in xs if x > v)


def p50(vals):
    return statistics.median(vals) if vals else 0.0


def hd_median(vals) -> float:
    """Harrell-Davis estimate of the median: every order statistic weighted
    by the Beta((n+1)/2, (n+1)/2) mass of its slice of [0, 1].

    A run's latencies are a mix of algorithms whose clusters overlap near
    the middle, so the sample median jumps between neighbouring clusters
    with the few samples that sit there (IQR/median 0.15-0.27 over ten
    seeds of ssppr_local on a shared 4-core VM). This estimator of the same
    median averages over the neighbourhood instead."""
    import numpy as np

    xs = np.sort(np.asarray(vals, dtype=np.float64))
    n = len(xs)
    if n < 2:
        return float(xs[0]) if n else 0.0
    t = np.linspace(0.0, 1.0, 20001)
    pdf = (4.0 * t * (1.0 - t)) ** ((n - 1) / 2.0)  # Beta((n+1)/2, (n+1)/2), unscaled
    cdf = np.concatenate(([0.0], np.cumsum(pdf[1:] + pdf[:-1])))
    cdf /= cdf[-1]
    w = np.diff(np.interp(np.arange(n + 1) / n, t, cdf))
    return float(w @ xs)


def mean(vals):
    return statistics.fmean(vals) if vals else 0.0


class Bench:
    def __init__(self, args, work: str):
        from tracing import Spans

        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.spans = Spans()
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.graph = None
        self.engine = None
        self.setup_s: list[float] = []
        self.queries: list[dict] = []
        self.extra: dict = {}
        self.evdir = os.path.join(work, "eventlog")

    # -- session and setup --------------------------------------------------
    def build_spark(self):
        from personalized_pagerank_algorithms_on_neo4j_spark import build_spark

        tmp = os.path.join(self.work, "tmp")
        # -Xms = the heap limit: with the heap grown on demand, the JVM's
        # peak RSS swung with how far G1 happened to grow it (IQR/median
        # 0.29 over ten seeds of base_prep_lookup)
        heap = os.environ["PPR_SPARK_DRIVER_MEM"]
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
        }
        if self.trace:
            from tracing import event_log_conf

            os.makedirs(self.evdir, exist_ok=True)
            conf.update(event_log_conf(self.evdir))
        return build_spark(
            app_name="perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf=conf,
        )

    def tag(self, desc: str | None) -> None:
        """Label the Spark jobs that follow in the event log (traced runs)."""
        if self.trace:
            self.spark.sparkContext.setJobDescription(desc)

    def setup(self, load):
        """Session build, graph load, warm() and the LocalGraph snapshot,
        SETUP_REPEATS times on fresh SparkContexts (the JVM is kept)."""
        sp = self.spans
        for i in range(SETUP_REPEATS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with sp.span("session.build"):
                self.spark = self.build_spark()
            self.tag(f"setup{i}")
            with sp.span("sources.load"):
                self.graph = load(self.spark)
            with sp.span("graph.warm"):
                self.graph.warm()
            with sp.span("graph.local"):
                self.graph.local
            self.setup_s.append(time.perf_counter() - t0)
            self.tag(None)
        from personalized_pagerank_algorithms_on_neo4j_spark import PPREngine

        self.engine = PPREngine(self.graph)

    # -- the closed loop ----------------------------------------------------
    def run_query(self, c: int, algo: str, source: int, call, kernel=None):
        """Time query ``algo`` of cycle ``c`` (< 0: a warm-up cycle): the
        verb call, then collecting its rows. The direct kernel call of a
        traced run happens after the answer is in, outside the query's time."""
        qid = f"warm{-c}.{algo}" if c < 0 else f"q{c}.{algo}"
        rec = {"qid": qid, "algo": algo, "source": source, "warm": c < 0}
        self.tag(qid)
        t_epoch = time.time()
        t0 = time.perf_counter()
        try:
            df = call()
            t1 = time.perf_counter()
            rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        except Exception:  # a failed query is counted, and the loop goes on
            rec["error"] = traceback.format_exc()
            self.queries.append(rec)
            return
        finally:
            self.tag(None)
        rec.update(
            ms=(t2 - t0) * 1e3,
            call_ms=(t1 - t0) * 1e3,
            collect_ms=(t2 - t1) * 1e3,
            start_ms=t_epoch * 1e3,
            end_ms=t_epoch * 1e3 + (t2 - t0) * 1e3,
            rows=rows,
        )
        if self.trace and kernel is not None:
            k0 = time.perf_counter()
            kernel()
            rec["kernel_ms"] = (time.perf_counter() - k0) * 1e3
        self.queries.append(rec)

    def loop(self, cycle, every: int = 1, warm: int = 1):
        """Run ``cycle(c)`` (one query of every algorithm) until --seconds
        have passed, in whole blocks of ``every`` cycles, after ``warm``
        untimed warm-up cycles: the first call of each verb plans and
        code-generates its Spark queries, a cost a session pays once."""
        for c in range(-1, -warm - 1, -1):
            cycle(c)
        t0 = time.perf_counter()
        c = 0
        while True:
            cycle(c)
            c += 1
            if c % every == 0 and time.perf_counter() - t0 >= self.args.seconds:
                break
        self.extra["loop_s"] = time.perf_counter() - t0
        self.extra["cycles"] = c


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


def ssppr_inputs(bench: Bench):
    import gen
    from oracle import Oracle

    ids, src, dst = gen.ssppr_graph(bench.args.seed)
    nodes, edges = gen.write_ssppr(ids, src, dst, os.path.join(bench.work, "ssppr"))
    oracle = Oracle(ids, src, dst)
    bench.extra["graph"] = {"nodes": len(ids), "edges": len(src),
                            "dangling": int((oracle.out_deg == 0).sum())}

    def load(spark):
        from personalized_pagerank_algorithms_on_neo4j_spark import PropertyGraph

        # the generator guarantees every endpoint is a node
        return PropertyGraph(spark, spark.read.parquet(nodes), spark.read.parquet(edges),
                             nodes_cover_edges=True)

    return oracle, load


def pushing_sources(seed: int, oracle):
    """Uniform draws with replacement (Gen_Util.java:99-107) among nodes
    with out-edges: an out-degree-0 source answers before any superstep
    runs or any stored row is read."""
    import numpy as np

    rng = np.random.default_rng([seed, 7])
    ids = oracle.ids[oracle.out_deg > 0]
    while True:
        yield int(ids[rng.integers(0, len(ids))])


def warm_source(seed: int, oracle) -> int:
    """The warm-up cycle's source: a node with out-edges, drawn apart from
    the timed stream so the stream's draws stay as they are."""
    import numpy as np

    ids = oracle.ids[oracle.out_deg > 0]
    return int(ids[np.random.default_rng([seed, 3]).integers(0, len(ids))])


def stratified_sources(seed: int, oracle, block: int):
    """Uniform draws with replacement, stratified: each block of ``block``
    draws holds exactly ``block * SSPPR_DANGLING`` out-degree-0 sources,
    and one source from each of ``block * (1 - SSPPR_DANGLING)`` equal
    strata of the other nodes ranked by out-degree. The generator makes
    exactly that share of nodes out-degree 0, so every node is still drawn
    with probability 1/n (to within a stratum's rounding), but a run no
    longer swings with how many near-free dangling queries, or how many
    low- or high-degree sources, it happened to draw."""
    import numpy as np

    import gen

    n_dangling = round(block * gen.SSPPR_DANGLING)
    rng = np.random.default_rng([seed, 11])
    dangling = oracle.ids[oracle.out_deg == 0]
    pushing = oracle.ids[oracle.out_deg > 0]
    by_degree = pushing[np.argsort(oracle.out_deg[oracle.out_deg > 0], kind="stable")]
    strata = np.array_split(by_degree, block - n_dangling)
    while True:
        draws = [int(x) for x in dangling[rng.integers(0, len(dangling), n_dangling)]]
        draws += [int(st[rng.integers(0, len(st))]) for st in strata]
        yield from (draws[i] for i in rng.permutation(block))


def run_ssppr_local(bench: Bench):
    from numpy.random import default_rng as rng

    from personalized_pagerank_algorithms_on_neo4j_spark.config import WholeGraphConf
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import _kernels

    oracle, load = ssppr_inputs(bench)
    bench.setup(load)
    g, eng = bench.graph, bench.engine
    if not g.fits_local():
        raise RuntimeError("ssppr_local must take the driver-local path: graph.fits_local() is False")
    lg, a = g.local, eng.alpha
    conf = WholeGraphConf(alpha=a, n=g.n, m=g.m)
    calls = {
        "fwdpush": lambda s: eng.ppr(s, algo="fwdpush", epsilon=EPSILON),
        "fora": lambda s: eng.ppr(s, algo="fora", epsilon=EPSILON),
        "montecarlo": lambda s: eng.ppr(s, algo="montecarlo", epsilon=EPSILON),
        "fora_topk": lambda s: eng.topk(s, K, algo="fora_topk", epsilon=EPSILON),
    }
    kernels = {  # the _kernels call each verb makes, with the same arguments
        "fwdpush": lambda d: _kernels.forward_push_batch(lg, d, a, conf.fora_rmax(EPSILON)),
        "fora": lambda d: _kernels.fora_whole_graph(
            lg, d, a, EPSILON, conf.delta, conf.pfail, g.m, rng(42), push_halvings=2),
        "montecarlo": lambda d: _kernels.monte_carlo(lg, d, a, conf.mc_omega(EPSILON), rng(42)),
        "fora_topk": lambda d: _kernels.fora_topk(lg, d, a, EPSILON, K, g.m, rng(42)),
    }
    stream = stratified_sources(bench.args.seed, oracle, LOCAL_BLOCK)
    warm = warm_source(bench.args.seed, oracle)

    def cycle(c):
        s = warm if c < 0 else next(stream)
        d = lg.dense(s)
        for algo in LOCAL_ALGOS:
            bench.run_query(c, algo, s, lambda: calls[algo](s), kernel=lambda: kernels[algo](d))

    bench.extra["path"] = {algo: "local" for algo in LOCAL_ALGOS}
    # after one warm-up cycle, most runs still sped up from their first half
    # to their second, by up to 10%
    bench.loop(cycle, every=LOCAL_BLOCK, warm=LOCAL_WARM)
    return oracle


def run_ssppr_distributed(bench: Bench):
    oracle, load = ssppr_inputs(bench)
    bench.setup(load)
    eng = bench.engine
    stream = pushing_sources(bench.args.seed, oracle)
    warm = warm_source(bench.args.seed, oracle)

    def cycle(c):
        s = warm if c < 0 else next(stream)
        bench.run_query(c, "fwdpush_dist", s, lambda: eng.ppr(
            s, algo="fwdpush", mode="distributed", epsilon=EPSILON, max_supersteps=DIST_STEPS))

    bench.extra["path"] = {algo: "distributed" for algo in DIST_ALGOS}
    # the first distributed query takes about three times as long, and the
    # JVM keeps speeding up the next ones: 6.5, 2.7, 2.3, 2.2, 2.2, 2.0, 1.9,
    # 1.7 s, flat from there (one session, 14 sources, 4 cores). Two warm-up
    # queries take the first, planning-bound pair out; the timed block holds
    # the rest of the slope, the same in every run, and spans more host time
    # than four timed queries after four warm-up ones did (IQR/median of
    # query_p50_ms 0.13-0.17 against 0.16-0.19 over the same twenty runs)
    bench.loop(cycle, every=DIST_BLOCK, warm=DIST_WARM)
    return oracle


def run_base(bench: Bench):
    import pyarrow.dataset as pads

    import gen
    from oracle import Oracle
    from personalized_pagerank_algorithms_on_neo4j_spark import load_tpch_graph
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import _kernels
    from personalized_pagerank_algorithms_on_neo4j_spark.operators import base_all_pair as B
    from personalized_pagerank_algorithms_on_neo4j_spark.sources import prep_store as PS

    cols = gen.tpch_columns(bench.args.seed)
    tables = os.path.join(bench.work, "tpch")
    gen.write_tpch(cols, tables)
    ids, src, dst = gen.tpch_graph(cols)
    oracle = Oracle(ids, src, dst)
    bench.extra["graph"] = {"nodes": len(ids), "edges": len(src)}
    bench.setup(lambda spark: load_tpch_graph(spark, tables))
    g = bench.graph
    if g.n != len(ids) or g.m != len(src):
        raise RuntimeError(f"loaded graph {g.stats()} differs from the generated tables")

    # BASE preprocessing over the highest-id targets: every nation and the
    # upper half of the suppliers (q_base_prep_heavy's 25 + 487 at sf0.1)
    n_targets = gen.TPCH_NATIONS + gen.TPCH_SUPPLIERS // 2
    targets = [int(t) for t in ids[-n_targets:]]
    tdf = bench.spark.createDataFrame([(t,) for t in targets], "target long")
    store = os.path.join(bench.work, "prep")
    bench.tag("prep")
    with bench.spans.span("prep_store.write"):
        PS.write_prep(B.base_preprocess(g, BASE_THRESHOLD, targets=tdf), store)
    bench.tag(None)
    bench.extra["prep"] = {
        "prep_s": bench.spans.durations("prep_store.write")[0],
        "prep_bytes": PS.prep_size_bytes(store),
        "dirs": sum(1 for x in os.listdir(store) if x.startswith("source=")),
        "files": sum(len(f) for _, _, f in os.walk(store)),
        "targets": n_targets,
    }
    # what the store holds, read back without Spark (off the clock)
    written: dict[int, dict[int, float]] = {}
    tbl = pads.dataset(store, format="parquet", partitioning="hive").to_table()
    for s, t, p in zip(tbl["source"].to_pylist(), tbl["target"].to_pylist(), tbl["ppr"].to_pylist()):
        written.setdefault(int(s), {})[int(t)] = p
    bench.extra["written"] = written
    bench.extra["targets"] = targets

    calls = {
        "base_lookup": lambda s: B.base_lookup(g, store, s),
        "base_topk_lookup": lambda s: B.base_topk_lookup(g, store, s, K),
    }
    stream = pushing_sources(bench.args.seed, oracle)
    warm = warm_source(bench.args.seed, oracle)

    def cycle(c):
        for algo in BASE_ALGOS:
            s = warm if c < 0 else next(stream)
            bench.run_query(c, algo, s, lambda: calls[algo](s))

    bench.extra["path"] = {"prep": "local" if g.fits_local() else "distributed",
                           "base_lookup": "store", "base_topk_lookup": "store"}
    bench.loop(cycle, every=BASE_BLOCK)
    if bench.trace:  # the per-target reverse push the prep fans out
        lg = g.local
        ks = []
        for t in [t for t in targets if lg.in_deg[lg.dense(t)] > 0][:KERNEL_SAMPLE]:
            k0 = time.perf_counter()
            _kernels.backward_search_batch(lg, lg.dense(t), bench.engine.alpha, BASE_THRESHOLD)
            ks.append((time.perf_counter() - k0) * 1e3)
        bench.extra["kernel_ms"] = ks
    shutil.rmtree(store)  # the store lives for one run only
    return oracle


WORKLOADS = {
    "ssppr_local": run_ssppr_local,
    "ssppr_distributed": run_ssppr_distributed,
    "base_prep_lookup": run_base,
}


# ---------------------------------------------------------------------------
# Checks
# ---------------------------------------------------------------------------


def check(bench: Bench, oracle) -> None:
    """Score every answered query; a miss is recorded on the query."""
    import numpy as np

    from oracle import answer_vector, fora_rmax, max_err, precision_at_k, tie_aware_topk

    answered = [q for q in bench.queries if "error" not in q]

    def solve(algos, solver=oracle.ppr, **kw):
        srcs = sorted({q["source"] for q in answered if q["algo"] in algos})
        cols = solver(srcs, **kw) if srcs else None
        return {s: cols[:, i] for i, s in enumerate(srcs)}

    rmax = fora_rmax(oracle.n, oracle.m, EPSILON)
    truth = solve({q["algo"] for q in answered})
    leaky = solve(BASE_ALGOS, dangling_returns=False)
    pushed = solve({"fwdpush_dist"}, oracle.batch_push, rmax=rmax, supersteps=DIST_STEPS)
    written = bench.extra.get("written")
    targets = bench.extra.get("targets")
    for q in answered:
        algo, rows, s = q["algo"], q["rows"], q["source"]
        pi = truth[s]
        # an out-degree-0 source answers pi(s, s) = 1 exactly; such answers
        # are checked but left out of the accuracy means
        trivial = oracle.out_deg[oracle.dense(s)] == 0
        try:
            if algo == "base_topk_lookup":
                got = {int(r[0]): r[1] for r in rows}
                want = written.get(s, {})
                if got != {t: want[t] for t in tie_aware_topk(want, K)}:
                    raise AssertionError("top-k lookup differs from the tie-aware top-k of the stored rows")
                q["precision"] = precision_at_k(set(got), restrict(oracle, leaky[s], targets), oracle.ids, K)
            elif algo == "fora_topk":
                got = {int(r[0]): r[1] for r in rows}
                if len(got) < min(K, int((pi > 0).sum())):
                    raise AssertionError(f"top-k answer has {len(got)} rows, fewer than k")
                # FORA's approximate top-k: the i-th node returned scores at
                # least (1 - eps) times the true i-th largest score
                order = sorted(got, key=got.get, reverse=True)[:K]
                found = pi[oracle.dense(np.array(order, dtype=np.int64))]
                best = np.sort(pi)[::-1][: len(order)]
                if np.any(found < (1.0 - EPSILON) * best):
                    i = int(np.argmax(found < (1.0 - EPSILON) * best))
                    raise AssertionError(f"top-k rank {i + 1} scores {found[i]} < (1-eps) * {best[i]}")
                if not trivial:
                    q["precision"] = precision_at_k(set(got), pi, oracle.ids, K)
            else:
                est = answer_vector(oracle, rows)
                if algo == "fwdpush":
                    r = oracle.push_residue(s, est)
                    if r.min() < -PUSH_TOL:
                        raise AssertionError(f"no forward push reaches these reserves: residue {r.min()} < 0")
                    over = (r - rmax * oracle.out_deg).max()
                    if over > PUSH_TOL:
                        raise AssertionError(f"push stopped with residue {over} above rmax * out-degree")
                elif algo == "fwdpush_dist":
                    gap = max_err(est, pushed[s])
                    if gap > PUSH_TOL:
                        raise AssertionError(f"answer is {gap} away from {DIST_STEPS} push supersteps")
                elif algo != "base_lookup" and abs(est.sum() - 1.0) > MASS_TOL:
                    raise AssertionError(f"answer holds mass {est.sum()}, not 1")
                if algo == "base_lookup":
                    if sorted(rows) != sorted(written.get(s, {}).items()):
                        raise AssertionError("lookup rows differ from the rows stored for the source")
                    # BASE estimates the reverse-push convention; its gap to
                    # the dangling-return oracle is kept beside it
                    q["max_err_vs_dangling_return"] = max_err(est, restrict(oracle, pi, targets))
                    pi = restrict(oracle, leaky[s], targets)
                err = max_err(est, pi)
                if err > MAX_ERR_TOL.get(algo, math.inf):
                    raise AssertionError(f"error {err} > {MAX_ERR_TOL[algo]}")
                if not trivial:
                    q["max_err"] = err
        except (AssertionError, ValueError, KeyError) as exc:
            q["error"] = f"check: {exc}"


def restrict(oracle, pi, targets):
    """The oracle vector with only the prep targets kept (a BASE store holds
    pi(s, t) for its targets t alone)."""
    import numpy as np

    out = np.zeros_like(pi)
    d = oracle.dense(np.asarray(targets, dtype=np.int64))
    out[d] = pi[d]
    return out


# ---------------------------------------------------------------------------
# Metrics
# ---------------------------------------------------------------------------


def timed(bench: Bench) -> list[dict]:
    """The answered queries of the timed loop (warm-up left out)."""
    return [q for q in bench.queries if "error" not in q and not q["warm"]]


def end_to_end(bench: Bench, rss_mb: float) -> dict:
    ok = timed(bench)
    lat = [q["ms"] for q in ok]
    tail_v, beyond = tail(lat) if lat else (0.0, 0)
    bench.extra["tail"] = {"percentile": TAIL_PCT, "samples": len(lat), "beyond": beyond}
    return {
        "setup_s": (statistics.median(bench.setup_s), "s"),
        "query_p50_ms": (hd_median(lat), "ms"),
        "query_tail_ms": (tail_v, "ms"),
        "queries_per_s": (len(ok) / bench.extra["loop_s"], "1/s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def quality(bench: Bench) -> dict:
    """Answer quality, the BASE store and the cold set-up, printed and kept
    in the sidecar but not gated: a run holds too few answers for a steady
    mean, the checks already hold every answer to its tolerance, and the
    cold set-up (the first, which alone launches the JVM) is one sample."""
    ok = [q for q in bench.queries if "error" not in q]
    out = {
        "setup_cold_s": (bench.setup_s[0], "s"),
        "max_err": (mean([q["max_err"] for q in ok if "max_err" in q]), "prob"),
        "failed_frac": ((len(bench.queries) - len(ok)) / max(1, len(bench.queries)), "ratio"),
    }
    prec = [q["precision"] for q in ok if "precision" in q]
    if prec:
        out["topk_precision"] = (mean(prec), "ratio")
    if "prep" in bench.extra:
        out["prep_s"] = (bench.extra["prep"]["prep_s"], "s")
        out["prep_bytes"] = (bench.extra["prep"]["prep_bytes"], "B")
    return out


def per_layer(bench: Bench, host: dict) -> dict:
    from tracing import parse_event_logs, union_ms

    sp = bench.spans
    ok = timed(bench)
    kernel = [q["kernel_ms"] for q in ok if "kernel_ms" in q] or bench.extra.get("kernel_ms", [])
    local = [q for q in ok if q["algo"] in LOCAL_ALGOS]
    spark = parse_event_logs(bench.evdir)
    none = {"jobs": 0, "stages": 0, "tasks": 0, "intervals": [], "task_ms": 0, "sh_read": 0, "sh_write": 0}
    per_q = []
    for q in ok:
        d = spark.get(q["qid"], none)
        lo, hi = q["start_ms"], q["end_ms"]
        inside = [(max(s, lo), min(e, hi)) for s, e in d["intervals"] if e > lo and s < hi]
        per_q.append(dict(d, wall_s=q["ms"] / 1e3, job_wall_s=union_ms(d["intervals"]) / 1e3,
                          think_s=(q["ms"] - union_ms(inside)) / 1e3, algo=q["algo"]))
    dist = [x for x in per_q if x["algo"] in DIST_ALGOS]
    prep = bench.extra.get("prep", {})
    store_q = [q for q in ok if q["algo"] in BASE_ALGOS]
    bench.extra["spark_per_query"] = per_q
    bench.extra["spark_prep"] = {k: v for k, v in spark.get("prep", {}).items() if k != "intervals"}
    return {
        "session.build_s": (p50(sp.durations("session.build")), "s"),
        "sources.load_s": (p50(sp.durations("sources.load")), "s"),
        "graph.warm_s": (p50(sp.durations("graph.warm")), "s"),
        "graph.local_build_s": (p50(sp.durations("graph.local")), "s"),
        "engine.call_ms": (p50([q["call_ms"] for q in ok]), "ms"),
        "engine.result_rows": (p50([len(q["rows"]) for q in ok]), "count"),
        "kernels.self_ms": (p50(kernel), "ms"),
        "boundary.to_spark_ms": (p50([q["call_ms"] - q["kernel_ms"] for q in local]), "ms"),
        "boundary.collect_ms": (p50([q["collect_ms"] for q in ok]), "ms"),
        "spark.jobs": (mean([x["jobs"] for x in per_q]), "count"),
        "spark.stages": (mean([x["stages"] for x in per_q]), "count"),
        "spark.tasks": (mean([x["tasks"] for x in per_q]), "count"),
        "spark.job_wall_s": (mean([x["job_wall_s"] for x in per_q]), "s"),
        "spark.task_s": (mean([x["task_ms"] / 1e3 for x in per_q]), "s"),
        "spark.shuffle_read_mb": (mean([x["sh_read"] / 1e6 for x in per_q]), "MB"),
        "spark.shuffle_write_mb": (mean([x["sh_write"] / 1e6 for x in per_q]), "MB"),
        "driver.think_s": (mean([x["think_s"] for x in per_q]), "s"),
        "iterative.superstep_s": (mean([x["wall_s"] / DIST_STEPS for x in dist]), "s"),
        "iterative.jobs_per_superstep": (mean([x["jobs"] / DIST_STEPS for x in dist]), "count"),
        "prep_store.write_s": (prep.get("prep_s", 0.0), "s"),
        "prep_store.bytes": (prep.get("prep_bytes", 0), "B"),
        "prep_store.dirs": (prep.get("dirs", 0), "count"),
        "prep_store.files": (prep.get("files", 0), "count"),
        "prep_store.read_ms": (p50([q["call_ms"] for q in store_q]), "ms"),
        "prep_store.collect_ms": (p50([q["collect_ms"] for q in store_q]), "ms"),
        "host.loadavg1": (host["loadavg1"], "load"),
        "host.steal_frac": (host["steal_frac"], "ratio"),
    }


def split_by_algo(bench: Bench) -> dict:
    keys = ("ms", "call_ms", "collect_ms", "kernel_ms")
    out: dict[str, dict[str, list]] = {}
    for q in timed(bench):
        a = out.setdefault(q["algo"], {k: [] for k in keys})
        for k in keys:
            if k in q:
                a[k].append(q[k])
    return {algo: {"n": len(a["ms"]), **{f"{k}_p50": p50(a[k]) for k in keys}}
            for algo, a in out.items()}


def host_record() -> dict:
    import numpy
    import pyspark

    from tracing import cpu_flags

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_flags": cpu_flags(),
        "env": {k: v for k, v in os.environ.items() if k.startswith(("SPARK_GRAFT_", "PPR_"))},
        "python": platform.python_version(),
        "numpy": numpy.__version__,
        "pyspark": pyspark.__version__,
    }


def tracing_overhead(results_dir: str, workload: str, seed: int, metrics: dict) -> dict | None:
    """Traced minus untraced end-to-end time, against the untraced sidecar
    of the same workload and seed, when one is in ``results_dir``."""
    path = os.path.join(results_dir, f"{workload}-seed{seed}-trace0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        base = json.load(fh)["metrics"]
    return {name: metrics[name] - base[name] for name in ("setup_s", "query_p50_ms")}


# ---------------------------------------------------------------------------


def prepare_env(work: str) -> None:
    """Spark's Python workers import the engine from the repository, and
    every scratch file stays inside ``work``."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM spark-submit starts would write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # a small driver heap, as the host's memory is shared; build_spark also
    # makes it the initial heap
    os.environ.setdefault("PPR_SPARK_DRIVER_MEM", "1g")
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tempfile.tempdir = None  # re-read TMPDIR


def stop_spark(bench: Bench) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    if bench.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    bench.spark.stop()
    bench.spark = None
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if "SPARK_GRAFT_LOCAL_EDGE_THRESHOLD" in os.environ:
        print("SPARK_GRAFT_LOCAL_EDGE_THRESHOLD is set; it would move workloads "
              "between the local and distributed paths. Unset it to run.", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import personalized_pagerank_algorithms_on_neo4j_spark  # noqa: F401  fail fast

    work = os.path.join(SCRATCH, f"run-{os.getpid()}")
    results = os.path.join(SCRATCH, "results")
    os.makedirs(results, exist_ok=True)
    prepare_env(work)
    from tracing import cpu_times, loadavg1, vm_hwm_mb

    bench = Bench(args, work)
    cpu0 = cpu_times()
    t0 = time.perf_counter()
    phase = bench.extra.setdefault("phase_s", {})
    try:
        oracle = WORKLOADS[args.workload](bench)
        phase["workload"] = time.perf_counter() - t0
        jvm_pid = bench.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"driver": vm_hwm_mb(), "jvm": vm_hwm_mb(jvm_pid)}  # before the JVM stops
        bench.extra["peak_rss_mb"] = rss
        stop_spark(bench)  # also flushes the event log
        phase["stop"] = time.perf_counter() - t0
        cpu1 = cpu_times()
        host = host_record()
        host["loadavg1"] = loadavg1()
        host["steal_frac"] = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        check(bench, oracle)
        phase["check"] = time.perf_counter() - t0
        e2e = end_to_end(bench, rss["driver"] + rss["jvm"])
        layers = per_layer(bench, host) if args.trace else {}
    finally:
        stop_spark(bench)
        shutil.rmtree(work, ignore_errors=True)
    return report(bench, args, e2e, layers, host, results)


def report(bench, args, e2e, layers, host, results) -> int:
    failed = sum(1 for q in bench.queries if "error" in q)
    attempted = len(bench.queries)
    qual = quality(bench)
    side = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "metrics": {k: v for k, (v, _) in e2e.items()},
        "quality": {k: v for k, (v, _) in qual.items()},
        "layers": {k: v for k, (v, _) in layers.items()},
        "setup_s_all": bench.setup_s,
        "spans": bench.spans.items,
        "by_algo": split_by_algo(bench),
        "host": host,
        "extra": {k: v for k, v in bench.extra.items() if k != "written"},
        "queries": [{k: v for k, v in q.items() if k != "rows"} | {"rows": len(q.get("rows", []))}
                    for q in bench.queries],
    }
    if args.trace:
        side["tracing_overhead"] = tracing_overhead(results, args.workload, args.seed, side["metrics"])
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(side, fh, indent=1, default=str)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          f"queries={attempted} failed={failed}")
    for k, (v, u) in (e2e | qual | layers).items():
        print(f"#   {k:<28} {v:>14.6g} {u}")
    t = bench.extra["tail"]
    print(f"#   query_tail_ms is p{t['percentile']:g} of {t['samples']} samples, {t['beyond']} beyond it")
    for k, v in (side.get("tracing_overhead") or {}).items():
        print(f"#   tracing overhead {k:<11} {v:>14.6g}")
    for q in bench.queries:
        if "error" in q:
            print(f"# FAILED {q['qid']}: {q['error'].strip().splitlines()[-1]}")
    chosen = layers if args.trace else e2e
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
