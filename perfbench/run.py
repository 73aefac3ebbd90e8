"""Benchmark runner: one workload, one seed, one process, local[4].

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 \\
        --trace 0

``--workload all`` runs every workload in turn at the given seed.

Each run is one job submission: generate the workload's inputs from the
seed (under ``.perfbench_work/`` in the checkout), start a SparkSession
and, for the workloads in ``workloads.WARM``, run one untimed warm-up
pass over the same inputs (set-up).  Then passes run closed-loop (one
client; a pass starts after the previous pass's output is fully
materialized) until ``--seconds`` have elapsed, at least one pass, and
each metric is the median over the passes.  Outputs are checked after
each pass, outside its timing.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}`` holding the end-to-end metrics (``--trace 0``) or
the per-layer metrics (``--trace 1``).  The lines before it give each
pass's sample with host telemetry, and a summary with sample counts and
the error rate.  ``--trace 1`` runs the pass under spans and Spark's
event log, then runs the same seed untraced in a child process to report
the tracing overhead.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", flush=True)


def _p_hi(n: int):
    """Highest whole percentile with at least ten samples beyond it."""
    return int(100 * (1 - 10 / n)) if n >= 11 else None


class Bench:
    def __init__(self, args):
        self.a = args
        self.work = os.path.join(ROOT, ".perfbench_work",
                                 f"{args.workload}-s{args.seed}-{os.getpid()}")
        # the registry derives its golden-triples path and its
        # import-time oracle literals from this directory's NAME (sf0.01)
        self.data = os.path.join(self.work, "data", "sf0.01")
        self.tmp = os.path.join(self.work, "tmp")
        self.events = os.path.join(self.work, "eventlog")
        for d in (self.data, self.tmp, self.events):
            os.makedirs(d)
        os.environ["TMPDIR"] = tempfile.tempdir = self.tmp
        # the JVMs keep no perf-data files under /tmp: the launcher JVM
        # reads these options, the driver JVM its extraJavaOptions
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["SPARK_GRAFT_TEST_SF"] = self.data
        from checks import Checks
        self.checks = Checks(args.seed)
        self.samples: list = []
        self.layer: dict = {}
        self.oracles = None
        self.spark = None

    # ----------------------------------------------------------- set-up

    def setup(self) -> None:
        import gen
        from workloads import SIZES, WARM
        t0 = time.perf_counter()
        self.rows_in = gen.write_inputs(
            self.a.seed, self.data, SIZES[self.a.workload][self.a.size])
        import bern2_spark.queries  # noqa: F401  (import-time oracles)
        t1 = time.perf_counter()
        self.spark = self._session()
        self.jvm = self.spark.sparkContext._gateway.proc
        t2 = time.perf_counter()
        self.layer["session.start_s"] = t2 - t1
        self.layer["session.warm_s"] = 0.0
        if self.a.workload in WARM:
            self._leaf_pass()
            self.layer["session.warm_s"] = time.perf_counter() - t2
        self.setup_s = time.perf_counter() - t0

    def _session(self):
        from bern2_spark.session import get_spark
        conf = {
            "spark.sql.shuffle.partitions": str(4 * CORES),
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
            "spark.local.dir": self.tmp,
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.a.trace:
            from spans import EVENT_LOG_CONF
            conf.update(EVENT_LOG_CONF)
            conf["spark.eventLog.dir"] = "file://" + self.events
        return get_spark(f"perfbench-{self.a.workload}",
                         master=f"local[{CORES}]", extra_conf=conf)

    # ----------------------------------------------------------- passes

    def _sample(self, fn) -> dict:
        from host import CpuWindow, calibrate
        cpu = CpuWindow()
        t0 = time.perf_counter()
        extra = fn()
        wall = time.perf_counter() - t0
        s = {"wall_s": wall, **{f"host.{k}": v
                                 for k, v in cpu.read().items()},
             "host.calib_s": calibrate(), **extra}
        self.samples.append(s)
        _log(f"pass {len(self.samples)} " + " ".join(
            f"{k}={v:.4g}" for k, v in s.items()))
        return s

    def _kg_pass(self, tracer=None) -> dict:
        from workloads import committed_triples, kg_pass, kg_staged
        sink_dir = os.path.join(self.work, "sink")
        if tracer is None:
            self.sink, cache_mb = kg_pass(self.spark, self.data, sink_dir)
            return {"rows": committed_triples(self.sink),
                    "cache_mb": cache_mb}
        counts, self.sink = kg_staged(self.spark, self.data, sink_dir,
                                      tracer)
        self.layer.update(counts)
        return {"rows": committed_triples(self.sink)}

    def _kg_check(self, sink, tag: str) -> None:
        from checks import golden_mismatch
        from workloads import GOLDEN, committed_triples, kg_input
        from bern2_spark.operators.preprocess import preprocess
        from bern2_spark.sources.sink import resume_docs
        rows = [tuple(r) for r in sink.read_stage(self.spark, "triples")
                .select("subj", "pred", "obj").collect()]
        self.checks.record(
            f"kg_build:{tag}:committed_rows",
            None if len(rows) == committed_triples(sink) else
            f"{len(rows)} rows read back vs {committed_triples(sink)} "
            f"in the manifest")
        self.checks.record(f"kg_build:{tag}:golden",
                           golden_mismatch(rows, GOLDEN))
        docs = preprocess(kg_input(self.spark, self.data)).select("doc_id")
        left = resume_docs(sink, docs).count()
        self.checks.record(
            f"kg_build:{tag}:resume",
            None if left == 0 else f"resume_docs returned {left} docs")
        self.triples_sha = hashlib.sha256(
            repr(sorted(rows)).encode()).hexdigest()

    def _leaf_pass(self, tracer=None) -> dict:
        from workloads import LEAVES
        from bern2_spark.queries import QUERIES
        self.leaf_out: dict = {}
        for mod, leaf, _kind in LEAVES:
            with (tracer.span(f"{mod}.{leaf}") if tracer
                  else contextlib.nullcontext()):
                df = QUERIES[leaf](self.spark, self.data)
                self.leaf_out[leaf] = (df.columns, df.collect())
        return {"rows": sum(len(r) for _c, r in self.leaf_out.values())}

    def _leaf_check(self) -> None:
        from checks import Oracles
        from bern2_spark.queries import ORACLES
        if self.oracles is None:
            self.oracles = Oracles(self.data)
        for leaf, (cols, rows) in self.leaf_out.items():
            self.checks.record(f"leaf_mix:{leaf}", self.oracles.mismatch(
                ORACLES.get(leaf), cols, rows))

    def measure(self) -> None:
        from host import PeakRss
        kg = self.a.workload == "kg_build"
        spent = 0.0
        with PeakRss(self.jvm.pid) as rss:
            while not self.samples or spent < self.a.seconds:
                spent += self._sample(
                    self._kg_pass if kg else self._leaf_pass)["wall_s"]
                if kg:
                    self._kg_check(self.sink, f"pass{len(self.samples)}")
                else:
                    self._leaf_check()
        self.peak_rss_mb = rss.peak

    def traced(self) -> None:
        from spans import Tracer
        self.tracer = Tracer(self.spark,
                             f"{self.a.workload}-s{self.a.seed}")
        if self.a.workload == "kg_build":
            self._sample(lambda: self._kg_pass(self.tracer))
            self._kg_check(self.sink, "staged")
        else:
            self._sample(lambda: self._leaf_pass(self.tracer))
            self._leaf_check()

    # ----------------------------------------------------------- report

    def stop(self) -> None:
        """Stop Spark, its JVM and the JVM's Python workers, and wait
        until every one of them has exited."""
        from host import descendants
        from pyspark import SparkContext
        procs = descendants(self.jvm.pid)
        self.spark.stop()
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        self.jvm.stdin.close()
        self.jvm.wait(timeout=60)
        deadline = time.time() + 30
        while any(_alive(p) for p in procs) and time.time() < deadline:
            time.sleep(0.05)

    def end_to_end(self) -> dict:
        def med(key):
            return statistics.median(s[key] for s in self.samples)
        return {
            "wall_s": (med("wall_s"), "s"),
            "rows_per_s": (statistics.median(
                s["rows"] / s["wall_s"] for s in self.samples), "1/s"),
            "setup_s": (self.setup_s, "s"),
            "cpu_core_s": (med("host.busy_core_s"), "s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
        }

    def per_layer(self) -> dict:
        from names import KG_LAYERS, per_layer_names
        from spans import by_group
        from workloads import LEAVES
        units = dict(per_layer_names())
        out = {n: 0.0 for n in units}
        groups = by_group(self.events)
        for name, g in groups.items():
            if name is None:
                continue
            for key, val in (("s", self.tracer.seconds(name)),
                             ("jobs", g.get("jobs", 0.0)),
                             ("tasks", g.get("tasks", 0.0)),
                             ("shuffle_mb", g.get("shuffle_bytes", 0) / 1e6),
                             ("shuffle_records",
                              g.get("shuffle_records", 0.0)),
                             ("spill_mb", g.get("spill_bytes", 0) / 1e6),
                             ("py_mb", g.get("py_bytes", 0) / 1e6)):
                if f"{name}.{key}" in out:
                    out[f"{name}.{key}"] = float(val)
        stages = [g for n, g in groups.items() if n in KG_LAYERS]
        for key, src, scale in (("jobs", "jobs", 1), ("shuffle_mb",
                                "shuffle_bytes", 1e6),
                                ("spill_mb", "spill_bytes", 1e6)):
            out[f"pipeline.{key}"] = sum(g.get(src, 0.0)
                                         for g in stages) / scale
        scans = {f"{m}.{leaf}" for m, leaf, k in LEAVES if k == "scan"}
        out["queries.scan_exchange_mb"] = sum(
            g.get("scan_exchange_bytes", 0.0) for n, g in groups.items()
            if n in scans) / 1e6
        if self.a.workload == "leaf_mix":
            for m, leaf, _k in LEAVES:
                if f"{m}.{leaf}.rows_out" in out:
                    out[f"{m}.{leaf}.rows_out"] = float(
                        len(self.leaf_out[leaf][1]))
        for k, v in self.layer.items():
            if k in out:
                out[k] = float(v)
        for k in ("busy_core_s", "steal_pct", "calib_s"):
            out[f"host.{k}"] = self.samples[0][f"host.{k}"]
        return {k: (v, units[k]) for k, v in out.items()}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _child(a, workload: str, trace: int,
           seconds: float | None = None) -> subprocess.CompletedProcess:
    """One run of ``workload`` at ``a``'s seed, in a fresh process."""
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds if seconds is None else seconds),
           "--trace", str(trace),
           "--size", a.size]
    return subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=400)


def _untraced_twin(a) -> tuple:
    """The same workload and seed untraced, in a fresh process, timing
    one pass as the traced run does: its result line, and the key=value
    pairs of its log lines."""
    p = _child(a, a.workload, 0, seconds=0)
    if p.returncode != 0:
        raise RuntimeError(f"untraced twin failed: {p.stderr[-2000:]}")
    lines = p.stdout.strip().splitlines()
    said = dict(tok.split("=", 1) for line in lines[:-1]
                for tok in line.split() if "=" in tok)
    return json.loads(lines[-1]), said


def _all(a) -> int:
    """Every workload in turn, each in its own process, each printing
    its summary and its result line."""
    from workloads import WORKLOADS
    rc = 0
    for w in WORKLOADS:
        p = _child(a, w, a.trace)
        print(p.stdout, end="", flush=True)
        rc = rc or p.returncode
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    # fail fast, before any process starts, outside a full checkout
    import bern2_spark.pipeline  # noqa: F401
    from workloads import WORKLOADS
    if a.workload == "all":
        return _all(a)
    if a.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {WORKLOADS} or all")

    b = Bench(a)
    try:
        b.setup()
        if a.trace:
            b.traced()
        else:
            b.measure()
    finally:
        if b.spark is not None:
            b.stop()
    if a.trace:
        metrics = b.per_layer()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        b.tracer.dump(os.path.join(
            out_dir, f"spans_{a.workload}_s{a.seed}.json"))
        twin, said = _untraced_twin(a)
        b.checks.attempted += twin["attempted"]
        if twin["failed"]:
            b.checks.failures.append(
                f"untraced twin: {twin['failed']} checks failed")
        metrics["trace.overhead_s"] = (
            b.samples[0]["wall_s"] - twin["metrics"]["wall_s"]["value"], "s")
        if a.workload == "kg_build":
            # the untraced twin ran run_pipeline itself: its triples
            # check the benchmark's stage wiring against pipeline.py
            b.checks.record(
                "kg_build:staged_equals_run_pipeline",
                None if said["triples_sha256"] == b.triples_sha else
                "stage-by-stage triples differ from run_pipeline's")
            metrics["pipeline.cache_mb"] = (float(said["cache_mb"]), "MB")
    else:
        metrics = b.end_to_end()
        _log(f"workload={a.workload} seed={a.seed} closed loop, 1 client, "
             f"local[{CORES}], input rows {b.rows_in}")
        for k, (v, unit) in metrics.items():
            n = 1 if k in ("setup_s", "peak_rss_mb") else len(b.samples)
            _log(f"{k}={v:.6g} {unit} (median of n={n}, p_hi={_p_hi(n)})")
        if a.workload == "kg_build":
            _log(f"triples_per_s={metrics['rows_per_s'][0]:.6g} 1/s "
                 f"triples_sha256={b.triples_sha}")
    _log(f"error_rate={b.checks.failed}/{b.checks.attempted}"
         + (f" failures: {b.checks.failures}" if b.checks.failed else ""))
    shutil.rmtree(b.work, ignore_errors=True)
    print(json.dumps({
        "correct": b.checks.failed == 0,
        "attempted": b.checks.attempted,
        "failed": b.checks.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
