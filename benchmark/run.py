"""Run one benchmark workload and print its metrics as JSON.

    python3 benchmark/run.py --workload real_corpus_extract --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. Builds the workload's inputs from the
seed, starts Spark and makes the warm-up calls (the set-up), then
times full user calls until ``--seconds`` of call time is measured
and checks every call's output. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``. The line
before it carries context (per-call samples, host readings).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

#: Spark task slots: nproc - 1 on the 4-vCPU reference host, so the
#: Spark driver, JVM housekeeping and the benchmark keep a core.
CORES = 3
#: Timed calls per run at least, so ``run_s.p50`` is never one sample
#: (and a traced run has a traced and an untraced call).
MIN_CALLS = 2
#: Warm-up calls, timed into ``setup_s``. The JVM keeps its default
#: tiered JIT, as a user's does; these calls take most of its C2
#: compilation out of the timed window.
WARMUP_CALLS = {"real_corpus_extract": 1, "small_docs_extract": 4,
                "curate_corpus": 2}
#: A run never starts a call after this many seconds, so it ends
#: well inside its 180 s budget even on a slow host.
DEADLINE_S = 140.0


def declared_metrics(kind: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them
    (``kind`` is ``end_to_end`` or ``per_layer``)."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside
    ``work``, and let Python workers import the package."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    import tempfile

    tempfile.tempdir = None


def start_session(work: Path):
    from pdf2dataset_spark import get_spark

    spark = get_spark(
        "pdf2dataset-bench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, if it started, and close its JVM's stdin, which
    tells the JVM to exit; ``probes.end_tree`` then waits for the JVM
    and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()


class Runner:
    def __init__(self, args, work: Path) -> None:
        from benchmark import probes
        from benchmark.trace import Tracer
        from benchmark.workloads import WORKLOADS

        self.args = args
        self.work = work
        self.t_start = time.monotonic()
        self.tracer = Tracer()
        self.wl = WORKLOADS[args.workload](work, args.seed)
        self.probes = probes
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.session_s = 0.0
        self.jobs: list[int] = []

    # -- one checked call -------------------------------------------
    def one_call(self, group: str) -> tuple[float, float]:
        """(wall s, VM CPU s) of one user call; the call counts as
        failed when it raises, its check fails or a task failed."""
        from benchmark.sparkstats import failed_tasks

        sc = self.spark.sparkContext
        self.wl.stage()
        sc.setJobGroup(group, group)
        self.tracer.run = group
        result, errs = None, []
        c0, t0 = self.probes.cpu_seconds(), time.perf_counter()
        try:
            with self.tracer.span("call"):
                result = self.wl.call()
        except Exception as e:  # the run goes on; the call is failed
            errs.append(f"call raised {type(e).__name__}: {e}")
        t1, c1 = time.perf_counter(), self.probes.cpu_seconds()
        if not errs:
            errs = self.wl.check(result)
        self.jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        n_failed = failed_tasks(sc, group)
        if n_failed:
            errs.append(f"{n_failed} failed tasks")
        self.wl.cleanup()
        self.attempted += 1
        if errs:
            self.failed += 1
            self.problems += [f"{group}: {e}" for e in errs]
        return t1 - t0, c1 - c0

    # -- phases -----------------------------------------------------
    def setup(self) -> float:
        """Session start plus the warm-up calls, as summed call time
        (the benchmark's own staging and checks excluded). One per
        run: each further set-up in a warm JVM would cost 5-15 s of
        the run budget and measure a different, warmer start."""
        t0 = time.perf_counter()
        self.spark = start_session(self.work)
        self.session_s = time.perf_counter() - t0
        self.wl.bind(self.spark)
        return self.session_s + sum(
            self.one_call(f"setup-{w}")[0]
            for w in range(WARMUP_CALLS[self.wl.name]))

    def window(self) -> dict:
        """Timed calls until ``--seconds`` of call time is measured.
        In a traced run every other call is traced."""
        from benchmark.sparkstats import RestStatus

        rest = RestStatus(self.spark.sparkContext) if self.args.trace else None
        plain, traced, cpus, spark_rows = [], [], [], []
        loop = [self.probes.python_loop_ms()]
        j0 = self.probes.stat_jiffies()
        i = 0
        while True:
            i += 1
            group = f"call-{i}"
            self.tracer.enabled = bool(self.args.trace) and i % 2 == 0
            wall, cpu = self.one_call(group)
            (traced if self.tracer.enabled else plain).append(wall)
            self.tracer.enabled = False
            cpus.append(cpu)
            if rest is not None:
                spark_rows.append(rest.iteration(group))
            measured = sum(plain) + sum(traced)
            if measured >= self.args.seconds and i >= MIN_CALLS:
                break
            if time.monotonic() - self.t_start > DEADLINE_S:
                break
        j1 = self.probes.stat_jiffies()
        loop.append(self.probes.python_loop_ms())
        return {
            "plain": plain, "traced": traced, "cpu": cpus,
            "spark": spark_rows, "loop_ms": loop,
            "steal_pct": self.probes.steal_pct(j0, j1),
            "worker_peak_rss_mb": self.probes.peak_rss_mb(
                self.probes.python_worker_pids()),
        }

    def run(self) -> dict:
        from benchmark import stats

        setup_s = self.setup()
        if self.args.trace:
            self._install_spans()
        w = self.window()
        info = {
            "workload": self.wl.name, "seed": self.args.seed,
            "setup_s": setup_s, "calls_s": w["plain"],
            "traced_calls_s": w["traced"], "cpu_s": w["cpu"],
            "host_python_loop_ms": w["loop_ms"], "steal_pct": w["steal_pct"],
            "worker_peak_rss_mb": w["worker_peak_rss_mb"],
            "jobs_per_call": self.jobs,
            "wall_s": time.monotonic() - self.t_start,
        }
        t = stats.tail(w["plain"])
        if t is not None:
            info["run_s.tail"] = {"percentile": t[0], "value": t[1]}
        if self.args.trace:
            from benchmark.trace import self_time_by_name

            n = len(w["traced"])
            info["span_self_s_per_traced_call"] = {
                k: v / n for k, v in self_time_by_name(self.tracer.spans).items()}
            units = declared_metrics("per_layer")
            metrics = self.layer_metrics(w)
        else:
            units = declared_metrics("end_to_end")
            metrics = {
                "setup_s": setup_s,
                "run_s.p50": stats.median(w["plain"]),
                "cpu_s_per_run": stats.median(w["cpu"]),
            }
        if metrics.keys() != units.keys():
            raise RuntimeError("metrics differ from BENCHMARK.json: "
                               f"{sorted(metrics.keys() ^ units.keys())}")
        print(json.dumps(info), flush=True)
        return {
            "correct": not self.problems,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }

    # -- traced run -------------------------------------------------
    def _install_spans(self) -> None:
        from pdf2dataset_spark import curate, extraction
        from pdf2dataset_spark.operators import cluster, dedup, shards, text

        t = self.tracer
        if self.wl.extraction:
            for attr, name in (("from_dict", "sources.manifest"),
                               ("scan_documents", "sources.manifest"),
                               ("load_done", "resume.load_done"),
                               ("resume_filter", "resume.filter"),
                               ("extract_features", "features.plan"),
                               ("write_parquet_append", "io.sink")):
                t.patch(extraction, attr, name)
        else:
            for mod, attr, name in ((text, "quality_filter", "text.quality"),
                                    (text, "repetition_stats", "text.repetition"),
                                    (dedup, "exact_dedup", "dedup.exact"),
                                    (dedup, "lsh_candidate_pairs", "dedup.lsh"),
                                    (dedup, "jaccard_pairs", "dedup.verify"),
                                    (cluster, "dedup_by_components", "cluster.components"),
                                    (shards, "write_shards", "shards.write")):
                t.patch(mod, attr, name)
            t.patch(curate, "curate", "curate.plan")
            frame = type(self.spark.range(1))
            t.patch(frame, "count", "spark.count")
            t.patch(frame, "collect", "spark.collect")

    def layer_metrics(self, w: dict) -> dict[str, float]:
        """What this workload's layers measured, plus the metrics of
        the layers it does not run, each set to 0."""
        from benchmark import layers, stats
        from benchmark.sparkstats import medians
        from benchmark.trace import total_by_name

        spans = self.tracer.spans
        m = {"session.get_spark_s": self.session_s}
        for k, v in medians(w["spark"]).items():
            m[f"spark.{k}"] = v
        m["host.python_loop_ms"] = stats.median(w["loop_ms"])
        m["host.steal_pct"] = w["steal_pct"]
        m["worker.peak_rss_mb"] = w["worker_peak_rss_mb"]
        m["trace.overhead_pct"] = 100.0 * (
            stats.median(w["traced"]) / stats.median(w["plain"]) - 1.0)
        n_traced = len(w["traced"])
        if self.wl.extraction:
            m.update(layers.extraction_layers(self.wl, self.spark, self.one_call))
            m.update(dict.fromkeys(layers.CURATE_ONLY, 0.0))
        else:
            m["curate.count_s"] = total_by_name(
                spans, "spark.count", "call") / n_traced
            m["curate.audit_s"] = total_by_name(
                spans, "spark.collect", "call") / n_traced
            m.update(layers.curate_layers(self.wl, self.spark))
            m.update(dict.fromkeys(layers.EXTRACTION_ONLY, 0.0))
        trace_dir = ROOT / ".bench_out"
        trace_dir.mkdir(exist_ok=True)
        self.tracer.dump(trace_dir / f"spans-{self.wl.name}-{self.args.seed}.json")
        return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pdf2dataset_spark" / "__init__.py").is_file():
        print(f"no pdf2dataset_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)
    from benchmark.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    from benchmark import probes

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    probes.adopt_orphans()
    # A SIGTERM unwinds through the ``finally`` below like an error.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    runner = None
    try:
        runner = Runner(args, work)
        result = runner.run()
    finally:
        # Every path out ends every process the run started: the JVM,
        # its Python workers and anything they left behind.
        try:
            if "pyspark" in sys.modules:
                stop_session(runner.spark if runner is not None else None)
        finally:
            probes.end_tree()
            shutil.rmtree(work, ignore_errors=True)
    for p in runner.problems[:20]:
        print(p, file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
