"""The benchmark's workloads: inputs made from the seed, the engine calls a
pass makes, and the oracle every output is checked against.

Each workload drives the public ``networkit_spark`` API only:

- ``corpus``: an R-MAT skeleton rendered into a ``(repo, path, commit,
  lang, content)`` corpus table, ingested with ``graph_from_repos``, then
  PageRank with a durable ``SuperstepRunner`` and the converged PageRank
  job submitted again to time its resume.
- ``pp_triangles``: per-vertex ``triangle_counts`` on the TPC-H part-part
  graph, one wedge join with no supersteps.
- ``pp_iter``: min-label connected components, label propagation and
  k-core to convergence on a smaller part-part graph. BENCHMARK.json leaves
  it out to fit its run budget; it runs by hand.
"""

from __future__ import annotations

import os
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import expected
from networkit_spark.operators.components import connected_components
from networkit_spark.operators.kcore import core_decomposition
from networkit_spark.operators.lpa import label_propagation
from networkit_spark.operators.pagerank import pagerank
from networkit_spark.operators.triangles import triangle_counts
from networkit_spark.plans.superstep import SuperstepRunner
from networkit_spark.sources.repos import file_id_col, graph_from_repos
from networkit_spark.sources.tpch_graph import graph_part_part

SIZES = {
    # triangles_floor_s: about a tenth of the warm triangle_counts pass at
    # local[2] on 4 CPUs (2.4-3.6 s); a pass faster than that did not
    # compute its output
    "full": {"corpus_scale": 13, "corpus_tol": 1e-4,
             "pp_iter_sf": 0.002, "pp_triangles_sf": 0.01,
             "triangles_floor_s": 0.3},
    "toy": {"corpus_scale": 8, "corpus_tol": 1e-4,
            "pp_iter_sf": 0.001, "pp_triangles_sf": 0.001},
}

RMAT_EDGE_FACTOR = 8
#: The TPC-H tables are drawn once from this fixed seed; the run seed only
#: relabels part keys, so every seed gives an isomorphic part-part graph.
TPCH_BASE_SEED = 19920101
PAGERANK_RTOL = 1e-6


def consume(df):
    """Reads every row and column of ``df``: (row count, order-independent
    content hash)."""
    row = df.agg(F.count(F.lit(1)).alias("rows"),
                 F.bit_xor(F.xxhash64(*df.columns)).alias("fp")).collect()[0]
    return int(row["rows"]), int(row["fp"] or 0)


class Oracle:
    """The expected graph as dense arrays: ``ids`` are the engine's vertex
    ids in ascending order and ``src``/``dst`` index into them."""

    def __init__(self, ids, src, dst, directed):
        self.ids = np.asarray(ids, dtype=np.int64)
        self.n = len(self.ids)
        self.src = np.asarray(src, dtype=np.int64)
        self.dst = np.asarray(dst, dtype=np.int64)
        self.w = np.ones(len(self.src))
        self.directed = directed
        self._cache: dict = {}

    def dense(self, ids):
        idx = np.searchsorted(self.ids, ids)
        idx = np.clip(idx, 0, self.n - 1)
        if not np.array_equal(self.ids[idx], ids):
            raise ValueError("output has vertex ids outside the graph")
        return idx

    def memo(self, key, fn):
        if key not in self._cache:
            self._cache[key] = fn()
        return self._cache[key]

    def edge_keys(self):
        s, d = self.ids[self.src], self.ids[self.dst]
        if not self.directed:
            s, d = np.minimum(s, d), np.maximum(s, d)
        return np.unique(np.stack([s, d], axis=1), axis=0)


def _by_id(pdf, col, oracle):
    """Column ``col`` of a collected output, aligned to ``oracle.ids``."""
    idx = oracle.dense(pdf["id"].to_numpy(np.int64))
    if len(idx) != oracle.n or len(np.unique(idx)) != oracle.n:
        raise ValueError(f"{len(idx)} rows for {oracle.n} vertices, or repeated ids")
    out = np.empty(oracle.n, dtype=pdf[col].to_numpy().dtype)
    out[idx] = pdf[col].to_numpy()
    return out


def _canonical(labels):
    """Each label mapped to the smallest vertex index carrying it."""
    order = np.argsort(labels, kind="stable")
    first = {}
    for i in order:
        first.setdefault(labels[i], i)
    return np.array([first[x] for x in labels])


# -- operator calls and their checks -------------------------------------
#
# An op is (name, layer function, call, check). ``call(ctx, g, runner,
# pass_state)`` returns the output DataFrame; ``check(res, oracle, ctx)``
# raises on a wrong output. ``collect`` says whether the check reads the
# collected rows (cheap for outputs backed by a checkpoint) or only the
# content hash taken in the timed region.


class Op:
    def __init__(self, name, fn, call, check, collect=True):
        self.name, self.fn, self.call, self.check = name, fn, call, check
        self.collect = collect


def _check_pagerank(tol):
    def check(res, oracle, ctx):
        ranks, steps = oracle.memo(("pagerank", tol), lambda: expected.pagerank(
            oracle.src, oracle.dst, oracle.w, oracle.n, oracle.directed, tol=tol))
        got = _by_id(res["values"], "rank", oracle)
        if res["supersteps"] != steps:
            raise ValueError(f"{res['supersteps']} supersteps, oracle {steps}")
        if not np.allclose(got, ranks, rtol=PAGERANK_RTOL, atol=0.0):
            worst = float(np.max(np.abs(got - ranks) / ranks))
            raise ValueError(f"rank off by rtol {worst:.3g}")
    return check


def _check_resume(res, oracle, ctx):
    first = res["pass_state"]["pagerank"]
    if res["resumed_from"] != first["supersteps"] - 1:
        raise ValueError(f"resumed from {res['resumed_from']}, "
                         f"expected {first['supersteps'] - 1}")
    a = _by_id(res["values"], "rank", oracle)
    b = _by_id(first["values"], "rank", oracle)
    if not np.allclose(a, b, rtol=1e-12, atol=0.0):
        raise ValueError("resumed ranks differ from the converged run")


def _check_components(res, oracle, ctx):
    want = oracle.memo("cc", lambda: expected.components(
        oracle.src, oracle.dst, oracle.n))
    got = oracle.dense(_by_id(res["values"], "component", oracle))
    if not np.array_equal(_canonical(got), _canonical(want)):
        raise ValueError("components differ from the oracle")


def _check_lpa(res, oracle, ctx):
    ref = _tests_oracles()
    want = oracle.memo("lpa", lambda: ref.lpa_sync_ref(
        np.stack([oracle.src, oracle.dst], axis=1), oracle.n))
    got = _by_id(res["values"], "label", oracle)
    if not np.array_equal(_canonical(got), _canonical(want)):
        raise ValueError("labels differ from tests/oracles.lpa_sync_ref")


def _check_kcore(res, oracle, ctx):
    want = oracle.memo("kcore", lambda: expected.core_numbers(
        oracle.src, oracle.dst, oracle.n))
    got = _by_id(res["values"], "core", oracle)
    if not np.array_equal(got, want):
        raise ValueError("core numbers differ from the peeling oracle")


def _check_triangles(res, oracle, ctx):
    def fingerprint():
        counts = expected.triangles(oracle.src, oracle.dst, oracle.n,
                                    ctx.cores, ctx.tmp_dir)
        df = ctx.spark.createDataFrame(
            pd.DataFrame({"id": oracle.ids, "triangles": counts}))
        return consume(df.select(F.col("id").cast("long"),
                                 F.col("triangles").cast("long")))
    want = oracle.memo("triangles", fingerprint)
    if (res["rows"], res["fp"]) != want:
        raise ValueError(f"(rows, hash) {(res['rows'], res['fp'])} != oracle {want}")
    floor = ctx.params.get("triangles_floor_s")
    if floor and res["seconds"] < floor:
        raise ValueError(f"{res['seconds']:.2f} s is under {floor} s, a tenth of "
                         "the 4-CPU baseline: the output was not fully computed")


def _tests_oracles():
    """The repository's pure-Python oracles, imported from the checkout."""
    tests_dir = os.path.join(os.getcwd(), "tests")
    if tests_dir not in sys.path:
        sys.path.append(tests_dir)
    import oracles
    return oracles


class TimedRunner(SuperstepRunner):
    """Records (start, end) in epoch seconds of every superstep it runs: a
    superstep starts when its step function is called and ends when its
    stop test is."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rounds: list[tuple[float, float]] = []

    def run(self, init_fn, step_fn, stop_fn, **kw):
        started = []

        def step(state, k):
            started.append(time.time())
            return step_fn(state, k)

        def stop(metrics, k):
            if self.resumed_from is None or k > self.resumed_from:
                self.rounds.append((started[-1], time.time()))
            return stop_fn(metrics, k)
        return super().run(init_fn, step, stop, **kw)


# -- workloads -------------------------------------------------------------


LANG_IMPORT = {"py": "import {}", "js": "const m = require('{}');",
               "java": "import {};", "go": 'import "{}"', "c": '#include "{}.h"'}


def rmat_skeleton(scale, edge_factor, seed, a=0.57, b=0.19, c=0.19):
    """Distinct R-MAT edges over 2^scale vertices, self-loops dropped: each
    of the n·edge_factor samples picks one quadrant per recursion level."""
    u = np.random.default_rng(seed).random(((1 << scale) * edge_factor, scale))
    bits = 1 << np.arange(scale)
    src = ((u >= a + b) * bits).sum(axis=1)
    dst = ((((u >= a) & (u < a + b)) | (u >= a + b + c)) * bits).sum(axis=1)
    e = np.unique(np.stack([src, dst], axis=1), axis=0)
    return e[e[:, 0] != e[:, 1]]


def render_corpus(edges, n, seed):
    """A ``(repo, path, commit, lang, content)`` table: file i imports
    module mod_j, in its language's syntax, for every skeleton edge i -> j."""
    rng = np.random.default_rng([seed, 1])
    langs = rng.choice(list(LANG_IMPORT), n)
    deps = [[] for _ in range(n)]
    for i, j in edges:
        deps[i].append(j)
    content = [
        "\n".join([f"// module mod_{i}"]
                  + [LANG_IMPORT[langs[i]].format(f"mod_{j}") for j in deps[i]]
                  + ["", f"int main() {{ return {i}; }}", ""])
        for i in range(n)
    ]
    return pa.table({
        "repo": ["bench/corpus"] * n,
        "path": [f"src/mod_{i}.{langs[i]}" for i in range(n)],
        "commit": [f"{x:040x}" for x in rng.integers(0, 1 << 62, n)],
        "lang": langs.tolist(),
        "content": content,
    })


class Corpus:
    """An R-MAT import graph (the seed is the R-MAT seed) rendered into a
    source-code corpus table."""

    name = "corpus"
    headline = "pagerank"
    source_fn = "graph_from_repos"
    #: a warm pass takes 7-9 s: BENCHMARK.json's 10 s time exactly two,
    #: at the same point of the JVM's warm-up in every run
    warmup_passes = 1
    min_passes = 2

    def __init__(self, params):
        self.scale = params["corpus_scale"]
        self.tol = params["corpus_tol"]

    def make_inputs(self, ctx):
        self.path = os.path.join(ctx.input_dir, "repos.parquet")
        self.skeleton = rmat_skeleton(self.scale, RMAT_EDGE_FACTOR, ctx.seed)
        pq.write_table(render_corpus(self.skeleton, 1 << self.scale, ctx.seed),
                       self.path)

    def ingest(self, ctx):
        g = graph_from_repos(ctx.spark.read.parquet(self.path), directed=True)
        g.edges.persist()
        g.num_edges(), g.num_vertices()
        return g

    def oracle(self, ctx):
        """The skeleton relabelled from file numbers to the engine's file
        ids (``file_id_col``) through the table's paths."""
        ids = ctx.spark.read.parquet(self.path).select(
            file_id_col().alias("id"),
            F.regexp_extract("path", r"mod_(\d+)\.", 1).cast("long").alias("fid"),
        ).toPandas()
        id_of_fid = np.empty(len(ids), dtype=np.int64)
        id_of_fid[ids["fid"].to_numpy()] = ids["id"].to_numpy()
        sorted_ids = np.sort(id_of_fid)
        dense = np.searchsorted(sorted_ids, id_of_fid)
        return Oracle(sorted_ids, dense[self.skeleton[:, 0]],
                      dense[self.skeleton[:, 1]], directed=True)

    def ops(self):
        def pr(ctx, g, runner, st):
            return pagerank(g, tol=self.tol, runner=runner)

        def resume(ctx, g, runner, st):
            again = TimedRunner(ctx.spark, st["pagerank"]["job_id"],
                                state_dir=ctx.state_dir)
            st["resume_runner"] = again
            return pagerank(g, tol=self.tol, runner=again)

        return [Op("pagerank", "pagerank", pr, _check_pagerank(self.tol)),
                Op("resume", "pagerank_resume", resume, _check_resume)]


class PartPart:
    """A TPC-H-shaped lineitem table (``6e6·sf`` lines over ``1.5e6·sf``
    orders and ``2e5·sf`` parts, keys uniform) whose part keys the seed
    relabels by a random permutation."""

    source_fn = "graph_part_part"

    def __init__(self, sf):
        self.sf = sf

    def make_inputs(self, ctx):
        self.dir = ctx.input_dir
        rng = np.random.default_rng(TPCH_BASE_SEED)
        n_parts = round(200_000 * self.sf)
        n_lines = round(6_000_000 * self.sf)
        orderkey = rng.integers(0, round(1_500_000 * self.sf), n_lines)
        partkey = rng.integers(0, n_parts, n_lines)
        relabel = np.random.default_rng(ctx.seed).permutation(n_parts)
        self.lineitem = pd.DataFrame({"l_orderkey": orderkey,
                                      "l_partkey": relabel[partkey]})
        self.n_parts = n_parts
        pq.write_table(pa.Table.from_pandas(self.lineitem, preserve_index=False),
                       os.path.join(self.dir, "lineitem.parquet"))
        pq.write_table(pa.table({"p_partkey": relabel}),
                       os.path.join(self.dir, "part.parquet"))
        np.save(os.path.join(self.dir, "relabel.npy"), relabel)

    def ingest(self, ctx):
        g = graph_part_part(ctx.spark, self.dir)
        g.edges.persist()
        g.num_edges(), g.num_vertices()
        return g

    def oracle(self, ctx):
        """Distinct co-ordered part pairs (a < b), from the lineitem table."""
        li = self.lineitem
        pairs = li.merge(li, on="l_orderkey")
        pairs = pairs[pairs["l_partkey_x"] < pairs["l_partkey_y"]]
        e = np.unique(pairs[["l_partkey_x", "l_partkey_y"]].to_numpy(), axis=0)
        return Oracle(np.arange(self.n_parts), e[:, 0], e[:, 1], directed=False)


class PPIter(PartPart):
    name = "pp_iter"
    headline = "kcore"
    warmup_passes = 1
    min_passes = 1

    def __init__(self, params):
        super().__init__(params["pp_iter_sf"])

    def ops(self):
        return [
            Op("cc", "connected_components",
               lambda ctx, g, r, st: connected_components(g, runner=r),
               _check_components),
            Op("lpa", "label_propagation",
               lambda ctx, g, r, st: label_propagation(g, runner=r), _check_lpa),
            Op("kcore", "core_decomposition",
               lambda ctx, g, r, st: core_decomposition(g, runner=r), _check_kcore),
        ]


class PPTriangles(PartPart):
    name = "pp_triangles"
    headline = "triangles"
    #: the second pass of a JVM is still 10-30% slower than later ones, so
    #: it warms up too; a pass is short, so the median of at least four
    #: damps a slow one
    warmup_passes = 2
    min_passes = 4

    def __init__(self, params):
        super().__init__(params["pp_triangles_sf"])

    def ops(self):
        return [Op("triangles", "triangle_counts",
                   lambda ctx, g, r, st: triangle_counts(g), _check_triangles,
                   collect=False)]


WORKLOADS = {w.name: w for w in (Corpus, PPIter, PPTriangles)}


def check_ingest(g, oracle):
    """The ingested edge set equals the oracle's."""
    e = g.edges.select("src", "dst").toPandas()
    s, d = e["src"].to_numpy(np.int64), e["dst"].to_numpy(np.int64)
    if not oracle.directed:
        s, d = np.minimum(s, d), np.maximum(s, d)
    got = np.unique(np.stack([s, d], axis=1), axis=0)
    want = oracle.edge_keys()
    if got.shape != want.shape or not np.array_equal(got, want):
        raise ValueError(f"ingested {len(got)} edges, oracle {len(want)}")
    if g.num_vertices() != oracle.n:
        raise ValueError(f"ingested {g.num_vertices()} vertices, oracle {oracle.n}")
