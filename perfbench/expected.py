"""Vectorised oracles with the engine's documented semantics.

Every function takes dense vertex indices 0..n-1 as NumPy arrays. The
smoke mode (``smoke.py``) checks them against the pure-Python oracles in
``tests/oracles.py`` on toy graphs.
"""

from __future__ import annotations

import numpy as np


def symmetrize(src, dst, w):
    """Both directions of every stored edge; a self-loop is kept once."""
    keep = src != dst
    return (np.concatenate([src, dst[keep]]), np.concatenate([dst, src[keep]]),
            np.concatenate([w, w[keep]]))


def pagerank(src, dst, w, n, directed, damp=0.85, tol=1e-8, max_iter=250):
    """Power iteration pulled over in-edges with coefficient
    damp·w/wdeg(src), teleport (1-damp)/n, L2 stop, no dangling
    redistribution, final sum-normalisation. Returns (ranks, supersteps)."""
    if not directed:
        src, dst, w = symmetrize(src, dst, w)
    wdeg = np.bincount(src, weights=w, minlength=n)
    coef = damp * w / wdeg[src]
    pr = np.full(n, 1.0 / n)
    teleport = (1.0 - damp) / n
    for k in range(max_iter):
        new = teleport + np.bincount(dst, weights=coef * pr[src], minlength=n)
        l2 = float(np.sqrt(((new - pr) ** 2).sum()))
        pr = new
        if l2 <= tol:
            break
    return pr / pr.sum(), k + 1


def components(src, dst, n):
    """Weakly connected components labelled by their minimum vertex index."""
    label = np.arange(n)
    while True:
        new = label.copy()
        np.minimum.at(new, src, label[dst])
        np.minimum.at(new, dst, label[src])
        new = new[new]  # pointer jumping: adopt the label's own label
        if np.array_equal(new, label):
            return label
        label = new


def _simple_undirected(src, dst):
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    pairs = np.unique(np.stack([lo[lo != hi], hi[lo != hi]], axis=1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def core_numbers(src, dst, n):
    """k-core numbers by Batagelj-Zaversnik bucket peeling on the simple
    undirected graph; isolated vertices get 0."""
    lo, hi = _simple_undirected(src, dst)
    s, d = np.concatenate([lo, hi]), np.concatenate([hi, lo])
    order = np.argsort(s, kind="stable")
    nbr = d[order].tolist()
    start = np.concatenate([[0], np.cumsum(np.bincount(s, minlength=n))]).tolist()
    deg = [start[v + 1] - start[v] for v in range(n)]
    md = max(deg, default=0)
    bins = [0] * (md + 1)
    for x in deg:
        bins[x] += 1
    acc = 0
    for k in range(md + 1):
        bins[k], acc = acc, acc + bins[k]
    pos = [0] * n
    vert = [0] * n
    for v in range(n):
        pos[v] = bins[deg[v]]
        vert[pos[v]] = v
        bins[deg[v]] += 1
    for k in range(md, 0, -1):
        bins[k] = bins[k - 1]
    bins[0] = 0
    for i in range(n):
        v = vert[i]
        for u in nbr[start[v]:start[v + 1]]:
            if deg[u] > deg[v]:
                du, pu = deg[u], pos[u]
                pw = bins[du]
                w = vert[pw]
                if u != w:
                    pos[u], pos[w] = pw, pu
                    vert[pu], vert[pw] = w, u
                bins[du] += 1
                deg[u] -= 1
    return np.array(deg, dtype=np.int64)


TRIANGLES_SQL = """
WITH e AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
           FROM edges WHERE src <> dst),
t AS (SELECT a.lo AS x, a.hi AS y, b.hi AS z
      FROM e a JOIN e b ON a.lo = b.lo AND a.hi < b.hi
      JOIN e c ON c.lo = a.hi AND c.hi = b.hi),
c AS (SELECT id, count(*) AS n FROM (
        SELECT x AS id FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
      GROUP BY id)
SELECT id, n FROM c
"""


def triangles(src, dst, n, threads: int, temp_dir: str):
    """Per-vertex triangle counts on the simple undirected graph (DuckDB)."""
    import duckdb
    import pandas as pd

    con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB",
                                 "temp_directory": temp_dir})
    try:
        con.register("edges", pd.DataFrame({"src": src, "dst": dst}))
        got = con.execute(TRIANGLES_SQL).fetchnumpy()
    finally:
        con.close()
    out = np.zeros(n, dtype=np.int64)
    out[got["id"].astype(np.int64)] = got["n"]
    return out
