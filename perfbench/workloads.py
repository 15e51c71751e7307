"""Seeded inputs and oracles for the link-graph benchmark.

Every workload's input is a pure function of ``(workload, seed)``: the
generators draw only from ``numpy.random.default_rng(seed)`` (and
``corpus.generate_corpus(seed=...)``), and the files are written with
fixed parquet settings, so one seed always yields identical bytes.
Oracles are computed here, once per seed, with numpy alone and outside
any timed region; the engine under test never sees them.

Run as a script to materialise one seed's data directory::

    python3 perfbench/workloads.py --workload iterate --seed 1 --out DIR

The benchmark does this in a child process so that generation memory
never shows in the measured process's peak RSS.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORKLOADS = ("ingest_motifs", "iterate")

# -- sizes --------------------------------------------------------------
# Sized so one run of every workload (JVM start, three set-ups, one or
# more timed jobs) fits the benchmark's per-run budget on a 4-core box,
# where each Spark job carries ~0.15 s of fixed cost and a PageRank
# superstep ~1.3 s whatever the graph size. See README.md.

# ingest_motifs, first input: generate_corpus at the corpus law
# (Zipf alpha=2, 5 hubs)
INGEST_FILES = 40_000
INGEST_REPOS = 2_000
INGEST_HUBS = 5
INGEST_ZIPF = 2.0

# iterate: hub-skewed directed graph (Pareto(1.3) out-degree with a cap,
# destinations uniform or drawn from the corpus's hub/Zipf law)
ITER_VERTICES = 20_000
ITER_EDGES = 72_000           # kept edges: fixed, so every seed does equal work
ITER_DEG_CAP = 2_000
ITER_SKEWED_SHARE = 0.25      # share of destinations drawn from the corpus law
ITER_HUB_PROB = 0.3           # corpus.generate_corpus default hub_prob
ITER_HUBS = 5

# PageRank leg: interrupted after PR_FIRST supersteps, resumed to PR_TOTAL
PR_DAMPING = 0.85
PR_TOL = 1e-6
PR_FIRST = 3
PR_TOTAL = 6
LPA_ROUNDS = 5

# ingest_motifs, second input: dense uniform (sid, tid) draws, the law
# of edges.derived_edges
MOTIF_VERTICES = 1_000
MOTIF_DRAWS = 60_000


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """Parquet with fixed settings: same frame -> same bytes."""
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path,
                   compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


# -- generators ---------------------------------------------------------

def gen_ingest(seed: int):
    """Corpus files plus the generator's own edge truth."""
    from adopt_spark.corpus import generate_corpus

    c = generate_corpus(n_repos=INGEST_REPOS, n_files=INGEST_FILES,
                        seed=seed, zipf_alpha=INGEST_ZIPF,
                        n_hubs=INGEST_HUBS)
    return c.files, c.expected_edges


def gen_iterate(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Directed graph with skewed out- AND in-degree, deduplicated,
    without self-loops; ids are dense 0..V-1 draws (isolated ids are
    simply absent from the edge table)."""
    rng = np.random.default_rng(seed)
    n = ITER_VERTICES
    w = np.minimum((rng.pareto(1.3, n) + 1) * 1.2, ITER_DEG_CAP).astype(np.int64)
    src = np.repeat(np.arange(n, dtype=np.int64), w)
    m = len(src)
    dst = rng.integers(0, n, size=m)
    skewed = rng.random(m) < ITER_SKEWED_SHARE
    hub = rng.random(m) < ITER_HUB_PROB
    zipf = np.minimum(rng.zipf(2.0, m) - 1, n - 1)
    law = np.where(hub, rng.integers(0, ITER_HUBS, m), zipf)
    dst = np.where(skewed, law, dst).astype(np.int64)
    src, dst = _dedup(src, dst, n)
    if len(src) > ITER_EDGES:
        keep = np.sort(rng.choice(len(src), ITER_EDGES, replace=False))
        src, dst = src[keep], dst[keep]
    return src, dst


def gen_motifs(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Dense graph: uniform (sid, tid) draws over few vertices."""
    rng = np.random.default_rng(seed)
    n = MOTIF_VERTICES
    src = rng.integers(0, n, MOTIF_DRAWS)
    dst = rng.integers(0, n, MOTIF_DRAWS)
    return _dedup(src, dst, n)


def _dedup(src: np.ndarray, dst: np.ndarray, n: int):
    keep = src != dst
    key = np.unique(src[keep].astype(np.int64) * n + dst[keep])
    return key // n, key % n


# -- oracles ------------------------------------------------------------

def pagerank_ref(src: np.ndarray, dst: np.ndarray, first: int, total: int,
                 damping: float = PR_DAMPING, tol: float = PR_TOL):
    """The engine's PageRank semantics, iterated in float64.

    Vertices are the edge endpoints; teleport p = 1/N; dangling mass is
    redistributed uniformly; stop when the L1 delta <= tol. Mirrors an
    interrupted run (max_iter=first) resumed to max_iter=total, which
    equals an uninterrupted run of ``total`` supersteps.
    Returns (vertex ids, ranks).
    """
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    n = len(verts)
    outdeg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    p = 1.0 / n
    rank = np.full(n, p)
    steps = 0
    for limit in (first, total):
        while steps < limit:
            d_mass = rank[dangling].sum()
            contrib = np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)
            new = (1.0 - damping) * p + damping * (contrib + d_mass * p)
            delta = np.abs(new - rank).sum()
            rank = new
            steps += 1
            if delta <= tol:
                break
    return verts, rank


def cc_ref(src: np.ndarray, dst: np.ndarray):
    """Min-vertex-id component label of every endpoint (undirected)."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    lab = np.arange(len(verts))
    while True:
        old = lab.copy()
        np.minimum.at(lab, s, lab[d])
        np.minimum.at(lab, d, lab[s])
        lab = lab[lab]                      # pointer jumping
        if np.array_equal(lab, old):
            break
    return verts, verts[lab]


def lpa_ref(src: np.ndarray, dst: np.ndarray, rounds: int):
    """Synchronous LPA over distinct undirected neighbours: each vertex
    takes the most frequent neighbour label, ties to the minimum.
    Labels live as compact indices, whose order is the id order."""
    verts, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    n = len(verts)
    pair = np.unique(np.concatenate([s * n + d, d * n + s]))
    v, nbr = pair // n, pair % n
    lab = np.arange(n)
    for _ in range(rounds):
        key, cnt = np.unique(v * n + lab[nbr], return_counts=True)
        vv, ll = key // n, key % n
        order = np.lexsort((ll, -cnt, vv))        # by v, count desc, label asc
        vv, ll = vv[order], ll[order]
        first = np.concatenate([[True], vv[1:] != vv[:-1]])
        new = lab.copy()
        new[vv[first]] = ll[first]
        if np.array_equal(new, lab):
            break
        lab = new
    return verts, verts[lab]


def triangles_sparse_ref(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles a<b<c over the lt-edges (sid < tid), as the engine's
    triangle_count reads the table; degree-oriented wedge check."""
    lt = src < dst
    a, b = src[lt], dst[lt]
    n = int(max(a.max(initial=0), b.max(initial=0))) + 1
    deg = np.bincount(np.concatenate([a, b]), minlength=n)
    fwd = (deg[a] < deg[b]) | ((deg[a] == deg[b]) & (a < b))
    u, w = np.where(fwd, a, b), np.where(fwd, b, a)
    order = np.lexsort((w, u))
    u, w = u[order], w[order]
    keys = u * n + w
    indptr = np.concatenate([[0], np.cumsum(np.bincount(u, minlength=n))])
    total = 0
    # wedges (x, y) with x, y both out-neighbours of the same vertex
    for vtx in np.nonzero(np.diff(indptr) >= 2)[0]:
        out = w[indptr[vtx]: indptr[vtx + 1]]
        i, j = np.triu_indices(len(out), 1)
        x, y = out[i], out[j]
        k1 = x * n + y
        k2 = y * n + x
        pos1 = np.searchsorted(keys, k1)
        pos2 = np.searchsorted(keys, k2)
        total += int((keys[np.minimum(pos1, len(keys) - 1)] == k1).sum())
        total += int((keys[np.minimum(pos2, len(keys) - 1)] == k2).sum())
    return total


def motif_dense_ref(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[int, int]:
    """(triangles, increasing 4-cycles) from dense adjacency matrices.

    U = lt-edges (sid < tid), R = raw edges. Triangles = sum(U^2 * U);
    4-cycles = sum(U^3 * R^T), the closing edge (v4, v1) being a raw
    directed edge as in motifs.cycle_sql(4). float64 is exact here:
    every partial sum stays far below 2^53.
    """
    R = np.zeros((n, n))
    R[src, dst] = 1.0
    U = np.triu(R, 1)
    U2 = U @ U
    tri = int(round((U2 * U).sum()))
    cyc = int(round(((U2 @ U) * R.T).sum()))
    return tri, cyc


# -- data area ----------------------------------------------------------

def materialize(workload: str, seed: int, out: str) -> None:
    """Write inputs + oracles for one seed into ``out`` (atomically)."""
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    oracle: dict = {"workload": workload, "seed": seed}
    if workload == "ingest_motifs":
        files, expected = gen_ingest(seed)
        sha = [hashlib.sha256(c.encode()).hexdigest() for c in files["content"]]
        src, dst = gen_motifs(seed)
        tri, cyc = motif_dense_ref(src, dst, MOTIF_VERTICES)
        tables = {
            "files": files,
            "sha": pd.DataFrame({"path": files["path"], "sha": sha}),
            "expected_edges": expected,
            "motif_edges": pd.DataFrame({"sid": src, "tid": dst}),
        }
        oracle.update(files=len(files), ingest_edges=len(expected),
                      motif_edges=int(len(src)), triangles=tri, cycles4=cyc)
    else:
        src, dst = gen_iterate(seed)
        v, r = pagerank_ref(src, dst, PR_FIRST, PR_TOTAL)
        tables = {
            "edges": pd.DataFrame({"sid": src, "tid": dst}),
            # all three oracles index the same sorted endpoint set
            "vertex_oracle": pd.DataFrame({
                "v": v, "rank": r, "component": cc_ref(src, dst)[1],
                "label": lpa_ref(src, dst, LPA_ROUNDS)[1]}),
        }
        oracle.update(edges=int(len(src)), triangles=triangles_sparse_ref(src, dst))
    for name, df in tables.items():
        write_parquet(df, os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "oracle.json"), "w") as f:
        json.dump(oracle, f, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    materialize(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
