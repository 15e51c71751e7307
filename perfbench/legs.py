"""The benchmark's jobs: one sequence of adopt_spark layer calls per
workload, each call timed as a span and tagged with its module's job
group, each output checked against the seed's oracle.

A job is a closed loop of legs: the next leg starts when the previous
one has returned and its result has been consumed (collected into this
process or written). Checks run after the timed region, under the
``gate`` job group, so they never count towards a leg's time or task
metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from adopt_spark.algos.cc import connected_components
from adopt_spark.algos.cycles import cycle_count
from adopt_spark.algos.lpa import label_propagation
from adopt_spark.algos.pagerank import pagerank
from adopt_spark.algos.triangles import triangle_count
from adopt_spark.checkpoint import CheckpointManager
from adopt_spark.corpus import generate_corpus
from adopt_spark.edges import normalize_edges
from adopt_spark.extract import repo_edges
from adopt_spark.sources.io import read_table, write_table
from adopt_spark.vertices import build_vertex_dictionary, encode_edges

import workloads as W


@dataclass
class JobResult:
    """Spans and checks of one timed job."""

    spans: dict[str, float] = field(default_factory=dict)
    checks: dict[str, bool] = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    wall_s: float = 0.0


class Recorder:
    """Times layer calls and tags their Spark jobs with the layer's
    job group (the event-log parser attributes stages through it)."""

    def __init__(self, spark: SparkSession, result: JobResult):
        self.sc = spark.sparkContext
        self.result = result

    @contextmanager
    def span(self, layer: str):
        self.sc.setJobGroup(layer, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.result.spans[layer] = time.perf_counter() - t0
            self.sc.setJobGroup("gate", "gate")


def _check(result: JobResult, name: str, ok: bool, detail: str = "") -> None:
    result.checks[name] = bool(ok)
    if not ok:
        print(f"perfbench: check {name} FAILED {detail}", file=sys.stderr)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Workload:
    """Interface the runner drives: load inputs, warm up, run a job.

    The input is one ready-made edge table (``edges_file``), read and
    persisted at set-up."""

    name = ""
    edges_file = "edges.parquet"
    # legs in job order; each names the adopt_spark module it calls
    layers: tuple[str, ...] = ()
    # output checks of one job; a check that never ran counts as failed
    checks: tuple[str, ...] = ()
    # the name under which ``items`` is also printed
    items_name = ""

    def __init__(self, data_dir: str, work_dir: str):
        self.data_dir = data_dir
        self.work_dir = work_dir
        with open(os.path.join(data_dir, "oracle.json")) as f:
            self.oracle = json.load(f)
        self.edges: DataFrame | None = None

    def load(self, spark: SparkSession) -> None:
        """Read and persist the seed's edge table (part of set-up)."""
        self.edges = read_table(
            spark, os.path.join(self.data_dir, self.edges_file)).persist()
        self.edges.count()

    def unload(self) -> None:
        if self.edges is not None:
            self.edges.unpersist()

    def warmup(self, spark: SparkSession) -> None:
        """One tiny call per timed function (part of set-up)."""
        raise NotImplementedError

    def job(self, spark: SparkSession, rec: Recorder, res: JobResult) -> None:
        raise NotImplementedError

    def items(self, jobs: list[JobResult]) -> float:
        """The workload's headline work rate, items per second."""
        raise NotImplementedError


class IngestMotifs(Workload):
    """The Arrow/Python-crossing layers: corpus files -> extracted,
    dictionary-encoded, normalised edge table; then triangles and
    4-cycles on a dense graph, through the numpy kernels."""

    name = "ingest_motifs"
    edges_file = "motif_edges.parquet"
    layers = ("extract", "vertices", "edges", "io", "triangles", "cycles")
    checks = ("extract.edges", "extract.content_sha", "vertices.dense_ids",
              "edges.normalized", "io.roundtrip", "triangles.count",
              "cycles.count4")
    ingest_layers = layers[:4]
    items_name = "ingest_files_per_s"

    def __init__(self, data_dir, work_dir):
        super().__init__(data_dir, work_dir)
        exp = pd.read_parquet(os.path.join(data_dir, "expected_edges.parquet"))
        self.expected = set(zip(exp["src_repo"], exp["dst_repo"]))
        self.repos = sorted({r for e in self.expected for r in e})
        sha = pd.read_parquet(os.path.join(data_dir, "sha.parquet"))
        self.sha = dict(zip(sha["path"], sha["sha"]))
        self.files = os.path.join(data_dir, "files.parquet")

    def warmup(self, spark):
        tiny = os.path.join(self.work_dir, "warm_files.parquet")
        if not os.path.exists(tiny):
            W.write_parquet(generate_corpus(n_repos=8, n_files=24, seed=0).files, tiny)
        cached: list[DataFrame] = []
        try:
            self._ingest(spark, tiny, os.path.join(self.work_dir, "warm_out"),
                         lambda _: nullcontext(), cached)
        finally:
            for df in cached:
                df.unpersist()
        # K30: wedge/edge ratio 9.3 sends both counters down the same
        # kernel paths (broadcast CSR, cogroup DP) as the timed input
        k = 30
        e = _tiny_edges(spark, [(a, b) for a in range(k) for b in range(a + 1, k)])
        triangle_count(e).collect()
        cycle_count(e, 4).collect()
        e.unpersist()

    @staticmethod
    def _ingest(spark, files_path, out_path, span, cached):
        """The ingest legs; every persisted frame is appended to
        ``cached`` so the caller can release it."""
        with span("extract"):
            corpus = read_table(spark, files_path).withColumn(
                "content_sha", F.sha2(F.col("content"), 256))
            re_ = repo_edges(corpus).persist()
            cached.append(re_)
            re_.count()
        with span("vertices"):
            names = re_.select(F.col("src_repo").alias("repo")).union(
                re_.select(F.col("dst_repo").alias("repo")))
            vocab = build_vertex_dictionary(names).persist()
            cached.append(vocab)
            vocab.count()
            enc = encode_edges(re_, vocab).persist()
            cached.append(enc)
            enc.count()
        with span("edges"):
            norm = normalize_edges(enc).persist()
            cached.append(norm)
            n_edges = norm.count()
        with span("io"):
            write_table(norm, out_path)
        return corpus, re_, vocab, norm, n_edges

    def job(self, spark, rec, res):
        self._ingest_job(spark, rec, res)
        self._motifs_job(rec, res)

    def _ingest_job(self, spark, rec, res):
        out = os.path.join(self.work_dir, "edge_table")
        cached: list[DataFrame] = []
        try:
            corpus, re_, vocab, norm, n_edges = self._ingest(
                spark, self.files, out, rec.span, cached)
            got = {(r[0], r[1]) for r in re_.collect()}
            _check(res, "extract.edges", got == self.expected,
                   f"{len(got)} vs {len(self.expected)} edges")
            shas = corpus.select("path", "content_sha").toPandas()
            _check(res, "extract.content_sha",
                   len(shas) == len(self.sha) and
                   all(self.sha.get(p) == s for p, s in
                       zip(shas["path"], shas["content_sha"])))
            voc = vocab.toPandas().sort_values("vid")
            _check(res, "vertices.dense_ids",
                   voc["vid"].tolist() == list(range(len(voc)))
                   and voc["name"].tolist() == self.repos)
            vid = dict(zip(voc["name"], voc["vid"]))
            want = {(vid.get(a), vid.get(b)) for a, b in self.expected}
            got_n = {(r[0], r[1]) for r in norm.collect()}
            _check(res, "edges.normalized", got_n == want)
            back = read_table(spark, out).toPandas()
            _check(res, "io.roundtrip",
                   set(zip(back["sid"], back["tid"])) == want)
            res.info.update(ingest_edges=n_edges, table_bytes=_dir_bytes(out))
        finally:
            for df in cached:
                df.unpersist()
            shutil.rmtree(out, ignore_errors=True)

    def _motifs_job(self, rec, res):
        e = self.edges
        with rec.span("triangles"):
            tri = int(triangle_count(e).collect()[0][0])
        with rec.span("cycles"):
            cyc = int(cycle_count(e, 4).collect()[0][0])
        _check(res, "triangles.count", tri == self.oracle["triangles"],
               f"{tri} vs {self.oracle['triangles']}")
        _check(res, "cycles.count4", cyc == self.oracle["cycles4"],
               f"{cyc} vs {self.oracle['cycles4']}")

    def items(self, jobs):
        """Corpus files per second of the ingest legs."""
        done = [sum(j.spans[k] for k in self.ingest_layers) for j in jobs
                if all(k in j.spans for k in self.ingest_layers)]
        return self.oracle["files"] / statistics.median(done) if done else 0.0


def _tiny_edges(spark, pairs) -> DataFrame:
    """A persisted warm-up graph. Built from pandas, so Arrow ships it
    as a local relation and no Python worker runs to produce it."""
    pdf = pd.DataFrame(pairs, columns=["sid", "tid"], dtype="int64")
    e = spark.createDataFrame(pdf).persist()
    e.count()
    return e


def _by_vertex(got: pd.DataFrame, ref: pd.DataFrame, col: str):
    """``got[col]`` aligned to the reference's vertex order, or None
    when the vertex sets differ."""
    if len(got) != len(ref) or set(got["v"]) != set(ref["v"]):
        return None
    return got.set_index("v")[col].reindex(ref["v"]).to_numpy()


class Iterate(Workload):
    """Resumable PageRank, CC, LPA and a sparse triangle count on a
    hub-skewed graph."""

    name = "iterate"
    layers = ("pagerank", "cc", "lpa", "triangles")
    checks = ("pagerank.ranks", "cc.labels", "lpa.labels", "triangles.count")
    items_name = "pagerank_edges_per_s"

    def __init__(self, data_dir, work_dir):
        super().__init__(data_dir, work_dir)
        self.ref = pd.read_parquet(os.path.join(data_dir, "vertex_oracle.parquet"))
        self.ckpt = os.path.join(work_dir, "ckpt")

    def warmup(self, spark):
        e = _tiny_edges(spark, [(0, 1), (1, 2), (2, 0)])
        ck = os.path.join(self.work_dir, "warm_ckpt")
        pagerank(spark, e, max_iter=1, checkpoint_dir=os.path.join(ck, "pr"))[0].count()
        connected_components(spark, e, checkpoint_dir=os.path.join(ck, "cc"))[0].count()
        label_propagation(spark, e, max_iter=1,
                          checkpoint_dir=os.path.join(ck, "lpa"))[0].count()
        triangle_count(e).collect()
        e.unpersist()
        shutil.rmtree(ck, ignore_errors=True)

    def job(self, spark, rec, res):
        e, ck = self.edges, self.ckpt
        try:
            with rec.span("pagerank"):
                _, m1 = pagerank(spark, e, tol=W.PR_TOL, max_iter=W.PR_FIRST,
                                 checkpoint_dir=os.path.join(ck, "pr"))
                t_resume = time.perf_counter()
                ranks, m2 = pagerank(spark, e, tol=W.PR_TOL, max_iter=W.PR_TOTAL,
                                     checkpoint_dir=os.path.join(ck, "pr"),
                                     resume=True)
                resumed_s = time.perf_counter() - t_resume
                pr = ranks.toPandas()
            with rec.span("cc"):
                cc, mcc = connected_components(spark, e,
                                               checkpoint_dir=os.path.join(ck, "cc"))
                cc = cc.toPandas()
            with rec.span("lpa"):
                lpa, mlpa = label_propagation(spark, e, max_iter=W.LPA_ROUNDS,
                                              checkpoint_dir=os.path.join(ck, "lpa"))
                lpa = lpa.toPandas()
            with rec.span("triangles"):
                tri = int(triangle_count(e).collect()[0][0])
            steps = m1 + m2
            res.info.update(
                edges=steps[0]["edges"],
                pr_steps=len(steps),
                pr_step_s=statistics.median(m["sec"] for m in steps),
                pr_restart_s=resumed_s - sum(m["sec"] for m in m2),
                cc_rounds=len(mcc),
                cc_round_s=statistics.median(m["sec"] for m in mcc),
                lpa_round_s=statistics.median(m["sec"] for m in mlpa),
                ckpt=[r for d in ("pr", "cc", "lpa") for r in
                      CheckpointManager(os.path.join(ck, d)).load_metrics()],
            )
        finally:
            shutil.rmtree(ck, ignore_errors=True)
        ref = self.ref
        # the reference is an uninterrupted run of the same supersteps,
        # so this also checks that resume continued the interrupted run
        got = _by_vertex(pr, ref, "rank")
        _check(res, "pagerank.ranks",
               got is not None and np.allclose(got, ref["rank"].to_numpy(),
                                               rtol=1e-9, atol=1e-12))
        got = _by_vertex(cc, ref, "component")
        _check(res, "cc.labels", got is not None
               and np.array_equal(got, ref["component"].to_numpy()))
        got = _by_vertex(lpa, ref, "label")
        _check(res, "lpa.labels", got is not None
               and np.array_equal(got, ref["label"].to_numpy()))
        _check(res, "triangles.count", tri == self.oracle["triangles"],
               f"{tri} vs {self.oracle['triangles']}")

    def items(self, jobs):
        """Edges per second of the median PageRank superstep."""
        done = [j.info["edges"] / j.info["pr_step_s"] for j in jobs if "pr_step_s" in j.info]
        return statistics.median(done) if done else 0.0


WORKLOADS = {w.name: w for w in (IngestMotifs, Iterate)}
