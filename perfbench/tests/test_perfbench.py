"""The benchmark's own tests: seeded determinism, the numpy oracles
against brute force and against the engine on tiny seeds, the
event-log parser on a small recorded log, and the bare-directory exit.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402

FIXTURE = os.path.join(BENCH, "tests", "data", "events_small.jsonl")


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_same_seed_gives_identical_bytes(workload, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    W.materialize(workload, 5, a)
    W.materialize(workload, 5, b)
    W.materialize(workload, 6, c)
    assert _files(a) == _files(b)
    inputs = (("files.parquet", "motif_edges.parquet")
              if workload == "ingest_motifs" else ("edges.parquet",))
    for inp in inputs:
        assert _files(a)[inp] != _files(c)[inp]


# -- oracles against brute force -----------------------------------------

def _random_graph(seed: int, n: int = 12, m: int = 40):
    rng = np.random.default_rng(seed)
    return W._dedup(rng.integers(0, n, m), rng.integers(0, n, m), n)


@pytest.mark.parametrize("seed", range(5))
def test_pagerank_ref_matches_loop(seed):
    src, dst = _random_graph(seed)
    verts = sorted(set(src) | set(dst))
    out = {v: [] for v in verts}
    for s, d in zip(src, dst):
        out[s].append(d)
    n = len(verts)
    rank = {v: 1.0 / n for v in verts}
    for _ in range(6):
        dmass = sum(rank[v] for v in verts if not out[v])
        new = {v: 0.15 / n + 0.85 * dmass / n for v in verts}
        for u in verts:
            for d in out[u]:
                new[d] += 0.85 * rank[u] / len(out[u])
        rank = new
    v, r = W.pagerank_ref(src, dst, 2, 6)
    assert list(v) == verts
    np.testing.assert_allclose(r, [rank[x] for x in verts], rtol=1e-12)
    # interrupted + resumed == uninterrupted
    np.testing.assert_array_equal(r, W.pagerank_ref(src, dst, 6, 6)[1])


def _adjacency(src, dst):
    nbr: dict[int, set[int]] = {}
    for s, d in zip(src, dst):
        nbr.setdefault(s, set()).add(d)
        nbr.setdefault(d, set()).add(s)
    return nbr


@pytest.mark.parametrize("seed", range(5))
def test_cc_ref_matches_bfs(seed):
    src, dst = _random_graph(seed, n=30, m=25)
    nbr = _adjacency(src, dst)
    comp = {}
    for v in sorted(nbr):
        if v in comp:
            continue
        seen, todo = {v}, [v]
        while todo:
            for w in nbr[todo.pop()]:
                if w not in seen:
                    seen.add(w)
                    todo.append(w)
        for w in seen:
            comp[w] = min(seen)
    verts, lab = W.cc_ref(src, dst)
    assert dict(zip(verts.tolist(), lab.tolist())) == comp


@pytest.mark.parametrize("seed", range(5))
def test_lpa_ref_matches_loop(seed):
    src, dst = _random_graph(seed, n=20, m=45)
    nbr = _adjacency(src, dst)
    lab = {v: v for v in nbr}
    for _ in range(5):
        new = {}
        for v in nbr:
            cnt = Counter(lab[w] for w in nbr[v])
            best = max(cnt.values())
            new[v] = min(k for k, c in cnt.items() if c == best)
        lab = new
    verts, got = W.lpa_ref(src, dst, 5)
    assert dict(zip(verts.tolist(), got.tolist())) == lab


@pytest.mark.parametrize("seed", range(5))
def test_motif_refs_match_enumeration(seed):
    n = 14
    src, dst = _random_graph(seed, n=n, m=90)
    raw = set(zip(src.tolist(), dst.tolist()))
    lt = {(a, b) for a, b in raw if a < b}
    tri = sum(1 for a, b, c in itertools.combinations(range(n), 3)
              if {(a, b), (b, c), (a, c)} <= lt)
    cyc = sum(1 for a, b, c, d in itertools.combinations(range(n), 4)
              if {(a, b), (b, c), (c, d)} <= lt and (d, a) in raw)
    assert W.motif_dense_ref(src, dst, n) == (tri, cyc)
    assert W.triangles_sparse_ref(src, dst) == tri


# -- oracles against the engine, tiny seeds ------------------------------

TINY = {
    # 80 vertices / 2500 draws: wedge/edge ratio ~15, the kernel regime
    "ingest_motifs": {"INGEST_FILES": 300, "INGEST_REPOS": 40,
                      "MOTIF_VERTICES": 80, "MOTIF_DRAWS": 2500},
    "iterate": {"ITER_VERTICES": 300, "ITER_EDGES": 1000, "ITER_DEG_CAP": 40},
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from adopt_spark.session import get_spark

    s = get_spark("perfbench-tests", cpus=2, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("wh"))})
    yield s
    s.stop()
    run.stop_jvm()


@pytest.mark.parametrize("workload", W.WORKLOADS)
def test_engine_agrees_with_oracles(workload, spark, tmp_path, monkeypatch):
    import legs

    for k, v in TINY[workload].items():
        monkeypatch.setattr(W, k, v)
    data, work = str(tmp_path / "data"), str(tmp_path / "work")
    os.makedirs(work)
    W.materialize(workload, 3, data)
    wl = legs.WORKLOADS[workload](data, work)
    wl.load(spark)
    try:
        res = legs.JobResult()
        wl.job(spark, legs.Recorder(spark, res), res)
    finally:
        wl.unload()
    assert set(res.checks) == set(wl.checks)
    assert all(res.checks.values()), res.checks
    assert set(res.spans) == set(wl.layers)


def test_engine_pagerank_converged_and_resumed(spark, tmp_path, monkeypatch):
    from adopt_spark.algos.pagerank import pagerank

    for k, v in TINY["iterate"].items():
        monkeypatch.setattr(W, k, v)
    src, dst = W.gen_iterate(4)
    import pandas as pd

    e = spark.createDataFrame(pd.DataFrame({"sid": src, "tid": dst}))
    # run to tolerance: allclose to the converged reference at atol 1e-6
    ranks, m = pagerank(spark, e, tol=1e-6, max_iter=200,
                        checkpoint_dir=str(tmp_path / "full"))
    v, ref = W.pagerank_ref(src, dst, 200, 200, tol=1e-6)
    got = ranks.toPandas().set_index("v")["rank"].reindex(v).to_numpy()
    assert m[-1]["l1_delta"] <= 1e-6
    np.testing.assert_allclose(got, ref, rtol=0, atol=1e-6)
    # interrupted at 2 and resumed to 5 == an uninterrupted run of 5
    ck = str(tmp_path / "resume")
    pagerank(spark, e, max_iter=2, checkpoint_dir=ck)
    resumed = pagerank(spark, e, max_iter=5, checkpoint_dir=ck, resume=True)[0]
    straight = pagerank(spark, e, max_iter=5,
                        checkpoint_dir=str(tmp_path / "straight"))[0]
    a = resumed.toPandas().set_index("v")["rank"].sort_index()
    b = straight.toPandas().set_index("v")["rank"].sort_index()
    np.testing.assert_allclose(a.to_numpy(), b.to_numpy(), rtol=1e-12)


# -- event-log parser ----------------------------------------------------

def test_parser_on_recorded_log():
    """A Spark 4.1 log of a tiny extract (mapInPandas) job in group
    ``extract`` and a groupBy job in group ``cc``, stripped of fields
    the parser does not read."""
    groups = eventlog.parse([FIXTURE])
    assert set(groups) == {"extract", "cc"}
    ex, cc = groups["extract"], groups["cc"]
    assert (ex.tasks, ex.run_ms, ex.gc_ms, ex.shuffle_write_bytes) == (4, 5879, 214, 767)
    assert (ex.py_sent, ex.py_returned, ex.py_run_ms, ex.py_start_ms) == \
        (11264, 7016, 5319, 2586)
    assert ex.py_bytes == 11264 + 7016
    assert (cc.tasks, cc.run_ms, cc.shuffle_write_bytes, cc.py_bytes) == (3, 299, 364, 0)
    # heaviest cc stage ran tasks of 119 and 121 ms
    assert cc.task_skew() == pytest.approx(121 / 120)
    assert eventlog.GroupStats().task_skew() == 0.0


def test_find_event_files_reads_spark4_layout(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    shutil.copy(FIXTURE, app / "events_1_local-1")
    (app / "appstatus_local-1").write_text("")
    files = eventlog.find_event_files(str(tmp_path))
    assert files == [str(app / "events_1_local-1")]
    assert eventlog.parse(files)["cc"].tasks == 3


# -- the bare directory --------------------------------------------------

def test_run_fails_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("_data", "_work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    # even with the real package importable from elsewhere
    env = dict(os.environ, PYTHONPATH=ROOT)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "iterate",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True,
                       timeout=170)
    assert p.returncode != 0
    for line in p.stdout.splitlines():
        with pytest.raises(json.JSONDecodeError):
            json.loads(line)
