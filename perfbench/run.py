"""Link-graph benchmark for adopt_spark.

    python3 perfbench/run.py --workload {ingest_motifs,iterate} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed into
``perfbench/_data`` (once per seed), the engine runs on
``local[<cores>]``, and the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are the per-layer metrics, taken from Spark's
event log of one traced job. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SETUP_REPS = 3            # set-ups per run; setup_s is their median
DRIVER_MEM = "2g"         # fits a 15 GB box with room for Python workers
CALIB_REPS = 3


def _env(work: str, cpus: int) -> None:
    """Pin cores, memory and every scratch location inside ``work``;
    must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
    })


def _conf(work: str, event_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap (-Xms = -Xmx): no run-to-run heap resizing,
        # so the JVM's peak RSS tracks what the job touches
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            "-XX:-UsePerfData",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": event_dir})
    return conf


def _ensure_data(workload: str, seed: int) -> str:
    """The seed's data directory, generated in a child process on first use."""
    out = os.path.join(BENCH, "_data", f"{workload}-{seed}")
    if not os.path.exists(os.path.join(out, "oracle.json")):
        subprocess.run([sys.executable, os.path.join(BENCH, "workloads.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--out", out], check=True, timeout=600)
    return out


def _calibrate() -> float:
    """Fixed numpy busy loop (bench.py's host gauge): flags a contended box."""
    import numpy as np

    t0 = time.perf_counter()
    rng = np.random.default_rng(0)
    keys = np.sort(rng.integers(0, 1 << 40, 2_000_000))
    q = rng.integers(0, 1 << 40, 500_000)
    for _ in range(CALIB_REPS):
        np.searchsorted(keys, q)
    return time.perf_counter() - t0


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Bench:
    """One benchmark run: set-ups, timed jobs, optional traced job."""

    def __init__(self, wl, work: str, cpus: int):
        self.wl = wl
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.start_s: list[float] = []
        self.warmup_s = 0.0

    def setup(self, event_dir: str | None = None, warm: bool = True) -> float:
        """(Re)start the SparkContext and load the input; with ``warm``,
        then run the warm-up pass. Returns the start + load seconds; the
        warm-up seconds go to ``self.warmup_s``."""
        from adopt_spark.session import get_spark

        if self.spark is not None:
            self.wl.unload()
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cpus=self.cpus,
                               extra_conf=_conf(self.work, event_dir))
        self.start_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setJobGroup("warmup", "warmup")
        self.wl.load(self.spark)
        ready = time.perf_counter() - t0
        if warm:
            t1 = time.perf_counter()
            self.wl.warmup(self.spark)
            self.warmup_s = time.perf_counter() - t1
        print(f"perfbench: setup session {self.start_s[-1]:.2f}s "
              f"ready {ready:.2f}s warmup {self.warmup_s if warm else 0:.2f}s",
              file=sys.stderr)
        return ready

    def job(self):
        from legs import JobResult, Recorder

        res = JobResult()
        try:
            self.wl.job(self.spark, Recorder(self.spark, res), res)
        except Exception:
            # a leg that raises fails itself and every check after it;
            # the run goes on so the failure is counted, not hidden
            traceback.print_exc(file=sys.stderr)
        res.wall_s = sum(res.spans.values())
        print("perfbench: job " + " ".join(f"{k} {v:.2f}s" for k, v in res.spans.items()),
              file=sys.stderr)
        return res

    @staticmethod
    def jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark, then its JVM."""
        if self.spark is not None:
            self.wl.unload()
            self.spark.stop()
        stop_jvm()


def stop_jvm() -> None:
    """Shut the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    proc.stdin.close()     # the JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tally(wl, jobs) -> tuple[int, int]:
    """(checks attempted, checks failed); a check a job never reached
    because a leg raised counts as failed."""
    attempted = failed = 0
    for j in jobs:
        names = set(wl.checks) | set(j.checks)
        attempted += len(names)
        failed += sum(not j.checks.get(c, False) for c in names)
    return attempted, failed


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def end_to_end(wl, jobs, setup_s, peak_mb) -> dict:
    attempted, failed = _tally(wl, jobs)
    return {
        "setup_s": _metric(setup_s, "s"),
        "wall_s": _metric(statistics.median(j.wall_s for j in jobs), "s"),
        "peak_rss_mb": _metric(peak_mb, "MB"),
        "ok_op_ratio": _metric((attempted - failed) / attempted, "ratio"),
        "items_per_s": _metric(wl.items(jobs), "1/s"),
    }


def named_metrics(wl, jobs) -> dict:
    """The workload's own leg metrics (printed before the result line)."""
    attempted, failed = _tally(wl, jobs)
    out = {"failed_op_ratio": _metric(failed / attempted, "ratio"),
           wl.items_name: _metric(wl.items(jobs), "1/s")}
    for layer, name in (("pagerank", "pagerank_s"), ("cc", "cc_s"), ("lpa", "lpa_s"),
                        ("triangles", "triangle_s"), ("cycles", "cycle4_s")):
        if layer in wl.layers:
            out[name] = _metric(statistics.median(j.spans.get(layer, 0.0) for j in jobs), "s")
    return out


def per_layer(wl, job, groups, bench: Bench, calib_s: float,
              overhead_s: float) -> dict:
    """Every per-layer metric; a layer the workload does not call reads 0."""
    from eventlog import GroupStats

    info = job.info

    def g(layer: str) -> GroupStats:
        return groups.get(layer, GroupStats())

    def span(layer: str) -> float:
        return job.spans.get(layer, 0.0)

    def util(layer: str) -> float:
        """Σ task run time ÷ (span × cores)."""
        busy = g(layer).run_ms / 1000.0
        return busy / (span(layer) * bench.cpus) if span(layer) else 0.0

    timed = [s for name, s in groups.items() if name in set(wl.layers)]
    ckpt = info.get("ckpt", [])
    snaps = sum(1 for r in ckpt if r.get("path"))
    ck_bytes = sum(g(n).output_bytes for n in ("pagerank", "cc", "lpa"))
    steps = info.get("pr_steps", 0)
    m = {
        "session.start_s": (statistics.median(bench.start_s), "s"),
        "session.launch_s": (bench.start_s[0], "s"),
        "session.warmup_s": (bench.warmup_s, "s"),
        "extract.self_s": (span("extract"), "s"),
        "extract.task_s": (g("extract").run_ms / 1000.0, "s"),
        "extract.core_util": (util("extract"), "ratio"),
        "extract.py_run_s": (g("extract").py_run_ms / 1000.0, "s"),
        "extract.py_bytes": (g("extract").py_bytes, "bytes"),
        "vertices.self_s": (span("vertices"), "s"),
        "vertices.shuffle_bytes": (g("vertices").shuffle_write_bytes, "bytes"),
        "edges.self_s": (span("edges"), "s"),
        "edges.shuffle_bytes": (g("edges").shuffle_write_bytes, "bytes"),
        "io.write_s": (span("io"), "s"),
        "io.bytes_per_edge": (info["table_bytes"] / info["ingest_edges"]
                              if "table_bytes" in info else 0.0, "bytes"),
        "pagerank.self_s": (span("pagerank"), "s"),
        "pagerank.steps": (steps, "count"),
        "pagerank.step_s": (info.get("pr_step_s", 0.0), "s"),
        "pagerank.restart_s": (info.get("pr_restart_s", 0.0), "s"),
        "pagerank.shuffle_bytes_per_step": (
            g("pagerank").shuffle_write_bytes / steps if steps else 0.0, "bytes"),
        "pagerank.task_skew": (g("pagerank").task_skew(), "ratio"),
        "pagerank.core_util": (util("pagerank"), "ratio"),
        "checkpoint.write_s": (sum(r.get("write_sec", 0.0) for r in ckpt), "s"),
        "checkpoint.bytes_per_snapshot": (ck_bytes / snaps if snaps else 0.0, "bytes"),
        "checkpoint.snapshots": (snaps, "count"),
        "cc.self_s": (span("cc"), "s"),
        "cc.rounds": (info.get("cc_rounds", 0), "count"),
        "cc.round_s": (info.get("cc_round_s", 0.0), "s"),
        "cc.shuffle_bytes": (g("cc").shuffle_write_bytes, "bytes"),
        "cc.task_skew": (g("cc").task_skew(), "ratio"),
        "lpa.self_s": (span("lpa"), "s"),
        "lpa.round_s": (info.get("lpa_round_s", 0.0), "s"),
        "lpa.shuffle_bytes": (g("lpa").shuffle_write_bytes, "bytes"),
        "triangles.self_s": (span("triangles"), "s"),
        "triangles.task_s": (g("triangles").run_ms / 1000.0, "s"),
        "triangles.core_util": (util("triangles"), "ratio"),
        "triangles.py_run_s": (g("triangles").py_run_ms / 1000.0, "s"),
        "triangles.py_bytes": (g("triangles").py_bytes, "bytes"),
        "triangles.shuffle_bytes": (g("triangles").shuffle_write_bytes, "bytes"),
        "cycles.self_s": (span("cycles"), "s"),
        "cycles.py_run_s": (g("cycles").py_run_ms / 1000.0, "s"),
        "cycles.shuffle_bytes": (g("cycles").shuffle_write_bytes, "bytes"),
        "spark.gc_s": (sum(s.gc_ms for s in timed) / 1000.0, "s"),
        "spark.spill_bytes": (sum(s.spill_bytes for s in timed), "bytes"),
        "spark.py_start_s": (sum(s.py_start_ms for s in timed) / 1000.0, "s"),
        "host.calib_s": (calib_s, "s"),
        "trace.overhead_s": (overhead_s, "s"),
    }
    return {k: _metric(v, u) for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="adopt_spark link-graph benchmark")
    ap.add_argument("--workload", required=True,
                    choices=("ingest_motifs", "iterate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path[:0] = [ROOT, BENCH]
    # the program under test is the one in this checkout; without it the
    # run must fail, not report
    import adopt_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(adopt_spark.__file__))) != ROOT:
        sys.exit(f"perfbench: no adopt_spark package in {ROOT}")
    from eventlog import find_event_files, parse
    from legs import WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BENCH, "_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _env(work, cpus)

    data = _ensure_data(a.workload, a.seed)
    wl = WORKLOADS[a.workload](data, work)
    bench = Bench(wl, work, cpus)
    try:
        # set-up = session start + input load (median of SETUP_REPS,
        # the first in a cold JVM) + one warm-up pass, run in the last
        # context so its Python workers and caches serve the timed jobs
        ready = [bench.setup(warm=i == SETUP_REPS - 1) for i in range(SETUP_REPS)]
        setup_s = statistics.median(ready) + bench.warmup_s
        jobs = []
        t0 = time.perf_counter()
        while True:
            jobs.append(bench.job())
            if len(jobs) == 1:
                # peak through set-up and one job: independent of how
                # many jobs fit in --seconds
                py_mb, jvm_mb = _hwm_mb(os.getpid()), _hwm_mb(bench.jvm_pid())
            if a.trace or time.perf_counter() - t0 >= a.seconds:
                break
        if a.trace:
            # the job above settles the JIT; then the same job traced and
            # untraced, each in a fresh context after the same load, so
            # the two differ only by the event log
            event_dir = os.path.join(work, "events")
            bench.setup(event_dir, warm=False)
            traced = bench.job()
            bench.spark.stop()    # flushes and closes the event log
            bench.spark = None
            groups = parse(find_event_files(event_dir))
            if wl.name == "ingest_motifs":
                # the dense graph must take the Python kernel path
                tri = groups.get("triangles")
                traced.checks["triangles.kernel_path"] = tri is not None and tri.py_bytes > 0
            bench.setup(warm=False)
            jobs += [traced, bench.job()]
            overhead_s = traced.wall_s - jobs[-1].wall_s
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    calib = _calibrate()

    attempted, failed = _tally(wl, jobs)
    if a.trace:
        metrics = per_layer(wl, traced, groups, bench, calib, overhead_s)
    else:
        metrics = end_to_end(wl, jobs, setup_s, py_mb + jvm_mb)
        detail = named_metrics(wl, jobs)
        detail["host.calib_s"] = _metric(calib, "s")
        print(json.dumps({"workload": wl.name, "seed": a.seed, "jobs": len(jobs),
                          "detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
