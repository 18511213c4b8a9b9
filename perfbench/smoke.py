"""Smoke test of the benchmark itself, at toy size.

    python3 perfbench/smoke.py

From the repository root: checks the vectorised oracles against the
repository's pure-Python ones on small graphs, then runs every workload
tiny, untraced and traced, and asserts that each run is correct and prints
exactly the metric names listed in BENCHMARK.json. ``pp_iter``, which
BENCHMARK.json leaves out to fit the run budget, is run too. Exits non-zero
on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))


def check_oracles() -> None:
    import expected
    import oracles
    import workloads

    rng = np.random.default_rng(7)
    n = 60
    e = np.unique(rng.integers(0, n, (240, 2)), axis=0)
    e = e[e[:, 0] != e[:, 1]]
    w = np.ones(len(e))
    for directed in (False, True):
        got, _ = expected.pagerank(e[:, 0], e[:, 1], w, n, directed)
        want = oracles.pagerank_ref(e, n, directed=directed)
        assert np.allclose(got, want, rtol=1e-9), "pagerank oracle"
    assert np.array_equal(expected.components(e[:, 0], e[:, 1], n),
                          oracles.cc_ref(e, n)), "components oracle"
    tri = expected.triangles(e[:, 0], e[:, 1], n, threads=1,
                             temp_dir=os.path.join(os.getcwd(), ".perfbench"))
    assert np.array_equal(tri, oracles.triangles_ref(e, n)[0]), "triangles oracle"
    # core numbers: a vertex's core is the largest k whose k-core holds it
    core = expected.core_numbers(e[:, 0], e[:, 1], n)
    simple = np.unique(np.sort(e, axis=1), axis=0)
    for k in range(core.max() + 2):
        alive = np.ones(n, bool)
        while True:
            deg = np.zeros(n, int)
            m = alive[simple[:, 0]] & alive[simple[:, 1]]
            np.add.at(deg, simple[m, 0], 1)
            np.add.at(deg, simple[m, 1], 1)
            drop = alive & (deg < k)
            if not drop.any():
                break
            alive &= ~drop
        assert np.array_equal(alive, core >= k), f"core oracle at k={k}"
    skel = workloads.rmat_skeleton(6, 4, seed=3)
    assert (skel[:, 0] != skel[:, 1]).all() and len(np.unique(skel, axis=0)) == len(skel)
    print("oracles agree with tests/oracles.py")


def run_workloads() -> None:
    import workloads

    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    for name in workloads.WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = spec["command"] + ["--workload", name, "--seed", "1",
                                     "--seconds", "1", "--trace", str(trace),
                                     "--size", "toy"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != want:
                raise SystemExit(f"{name} trace={trace}: metrics {got} != {want}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                raise SystemExit(f"{name} trace={trace}: {proc.stdout[-3000:]}")
            print(f"{name} trace={trace}: {len(got)} metrics, "
                  f"{result['attempted']} checked calls, all correct")


if __name__ == "__main__":
    sys.path[:0] = [HERE, os.getcwd(), os.path.join(os.getcwd(), "tests")]
    os.makedirs(os.path.join(os.getcwd(), ".perfbench"), exist_ok=True)
    check_oracles()
    run_workloads()
