"""Benchmark of the engine's paper workload, end to end and layer by layer.

Run from the repository root:

  python3 perfbench/run.py --workload project_wide --seed 1 --seconds 22 \
      --trace 0

Workloads (one process, ``local[<cores>]``):

- ``project_wide``: one paired-end project of 40 samples × 2,000 genes
  through ``run_pipeline``; an operation is a full run into a fresh
  directory.
- ``corpus_curation``: ``run_corpus --neardup-report`` on a 2,000-document
  corpus; an operation is one curation.

Set-up starts the Spark session, writes the seeded inputs and runs one
warm-up operation. Then a fixed number of operations, set by
``--seconds``, are timed one after another (a closed loop with a single
client), and every operation's outputs are checked. With ``--trace 0``
the operations run untraced and the end-to-end metrics are reported; with
``--trace 1`` every other operation is traced (``spans.py``) and the
per-layer metrics of the traced ones are reported, with the tracing
overhead. The last line of stdout is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402

WIDE_PROJECT, WIDE_SAMPLES, WIDE_GENES = "PRJNA900100", 40, 2000
CORPUS_DOCS = 2000
MIN_OPS = 2
SPANS_DIR = f"{ROOT}/.perfbench_spans"      # where a traced run's spans go
END_TO_END = (("wall_s", "s"), ("items_per_s", "1/s"), ("op_p50_s", "s"),
              ("ok_ratio", "ratio"), ("setup_s", "s"), ("peak_rss_mb", "MB"))
TRACE_METRICS = (("trace.overhead_ratio", "ratio"),
                 ("trace.selftime_err_ms", "ms"), ("session.setup_s", "s"))


def tail_percentile(n: int, candidates=(99.9, 99.0, 95.0, 90.0)):
    """The highest percentile with at least ten of ``n`` samples beyond
    it, or None: a tail is reported only when that many samples back it."""
    for p in candidates:
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


class ProjectWide:
    """One wide paired-end project; an operation is a full
    ``run_pipeline`` run into a fresh output directory."""

    root_layer = "run_pipeline"
    op_s = 10.0         # warm seconds of one operation on 4 cores

    def __init__(self, inputs: str, seed: int):
        self.truth = gen.write_project(f"{inputs}/{WIDE_PROJECT}",
                                       WIDE_PROJECT, WIDE_SAMPLES,
                                       WIDE_GENES, seed)
        self.items = WIDE_SAMPLES

    def run(self, out: str) -> int:
        from rgd_rnaseq_workflows_spark import run_pipeline
        return run_pipeline.main(self.truth.pipeline_argv(out))

    def check(self, out: str) -> list[str]:
        return checks.check_project(out, self.truth)

    def layer_calls(self, out: str, rc: int) -> tuple[int, int]:
        """(attempted, failed) layer calls of an untraced operation: the
        CLI call plus every orchestrator stage, read from its markers."""
        a, f = checks.stage_calls(f"{out}/.markers", WIDE_PROJECT,
                                  checks.PIPELINE_STAGES)
        return a + 1, f + int(rc != 0)


class CorpusCuration:
    """A fixed 2,000-document corpus in a seeded row order; an operation
    is one ``run_corpus --neardup-report``."""

    root_layer = "run_corpus"
    op_s = 9.0

    def __init__(self, inputs: str, seed: int):
        self.truth = gen.write_corpus(f"{inputs}/documents.parquet", seed,
                                      CORPUS_DOCS)
        self.items = CORPUS_DOCS
        self.first: dict[str, int] | None = None

    def run(self, out: str) -> int:
        from rgd_rnaseq_workflows_spark import run_corpus
        return run_corpus.main(["--docs", self.truth.path, "--out", out,
                                "--neardup-report"])

    def check(self, out: str) -> list[str]:
        if self.first is None:      # the warm-up run sets the reference
            try:
                self.first = checks.corpus_counts(out)
            except (OSError, IndexError) as e:
                return [f"unreadable output: {e}"]
        return checks.check_corpus(out, self.first, self.truth.n_docs)

    def layer_calls(self, out: str, rc: int) -> tuple[int, int]:
        return 1, int(rc != 0)


WORKLOADS = {"project_wide": ProjectWide, "corpus_curation": CorpusCuration}


def n_ops(workload: str, seconds: int) -> int:
    return max(MIN_OPS, round(seconds / WORKLOADS[workload].op_s))


def _isolate(work: str) -> None:
    """Keep every file the run writes, the JVM's included, under ``work``,
    and fix the driver's cores and heap."""
    tmp = f"{work}/tmp"
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    # every JVM: no hsperfdata file under /tmp, temporary files in ``tmp``
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    # A fixed, pre-touched heap, so that peak RSS is the heap plus what the
    # JVM uses beside it. G1's sizing moved it by 20% between runs of the
    # same inputs with a growable heap, and by 25% with a fixed one.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Xms{mem} -XX:+AlwaysPreTouch") + " --conf "
        + shlex.quote(f"spark.hadoop.hadoop.tmp.dir={tmp}") + " pyspark-shell")


def _peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the JVM")


def _stop_jvm() -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
    except Py4JError:       # interrupted mid-call: the JVM still goes below
        pass
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args: argparse.Namespace, work: str) -> dict:
    """Set up, run the operations, check them; return the result object."""
    from rgd_rnaseq_workflows_spark import session

    tracer = spans.Tracer() if args.trace else None
    errors: list[str] = []

    t0 = time.perf_counter()
    if tracer:
        tracer.begin_op()
        with tracer.span("session"):
            spark = session.get_spark("perfbench")
        tracer.sc = spark.sparkContext
    else:
        spark = session.get_spark("perfbench")
    wl = WORKLOADS[args.workload](f"{work}/inputs", args.seed)
    warm = f"{work}/ops/warmup"
    if wl.run(warm) != 0:
        errors.append("warm-up operation failed")
    errors += [f"warm-up: {e}" for e in wl.check(warm)]
    shutil.rmtree(warm, ignore_errors=True)
    setup_s = time.perf_counter() - t0

    n = n_ops(args.workload, args.seconds)
    if tracer:      # odd: every traced op sits between two untraced ones
        n = 2 * (n // 2) + 1
    lat, traced, items = [], [], 0
    calls = failed_calls = failed_ops = 0
    selftime_err = 0.0
    for i in range(n):
        out = f"{work}/ops/{i}"
        trace_this = tracer is not None and i % 2 == 1
        if trace_this:
            op = tracer.begin_op()
            with spans.instrument(tracer):
                start = time.perf_counter()
                with tracer.span(wl.root_layer) as root:
                    rc = wl.run(out)
                    root.ok = rc == 0
                dt = time.perf_counter() - start
            tracer.collect(op)
            op_spans = tracer.op_spans(op)
            selftime_err = max(selftime_err,
                               spans.self_time_error(op_spans, dt))
            if not spans.self_time_ok(op_spans, dt):
                errors.append(f"op {i}: layer self times do not add up "
                              f"to its wall time")
            traced.append((dt, op))
        else:
            start = time.perf_counter()
            rc = wl.run(out)
            dt = time.perf_counter() - start
            lat.append(dt)
        a, f = wl.layer_calls(out, rc)
        calls, failed_calls = calls + a, failed_calls + f
        failed_ops += int(rc != 0)
        items += wl.items
        errors += [f"op {i}: {e}" for e in wl.check(out)]
        shutil.rmtree(out, ignore_errors=True)

    all_lat = lat + [dt for dt, _ in traced]
    wall = sum(all_lat)
    fail_ratio = failed_calls / calls
    readable = {
        "workload": args.workload, "seed": args.seed,
        "op_latencies_s": [round(x, 3) for x in all_lat],
        "fail_ratio": f"{fail_ratio} ratio ({failed_calls}/{calls} layer "
                      f"calls failed)",
        "op_p50_s": f"{statistics.median(all_lat)} s (n={len(all_lat)})",
    }
    p = tail_percentile(len(all_lat))
    if p is not None:
        q = statistics.quantiles(all_lat, n=1000, method="inclusive")
        readable[f"op_p{p:g}_s"] = f"{q[round(p * 10) - 1]} s"
    if tracer is None:
        values = {"wall_s": wall, "items_per_s": items / wall,
                  "op_p50_s": statistics.median(all_lat),
                  "ok_ratio": 1.0 - fail_ratio, "setup_s": setup_s,
                  "peak_rss_mb": _peak_rss_mb(spark)}
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    else:
        traced_spans = [s for _, op in traced for s in tracer.op_spans(op)]
        values = spans.layer_metrics(traced_spans, len(traced))
        values["trace.overhead_ratio"] = (
            statistics.median(dt for dt, _ in traced)
            / statistics.median(lat))
        values["trace.selftime_err_ms"] = selftime_err * 1000.0
        values["session.setup_s"] = sum(spans.self_times(tracer.op_spans(0)))
        os.makedirs(SPANS_DIR, exist_ok=True)
        tracer.dump(f"{SPANS_DIR}/{args.workload}-{args.seed}.jsonl")
        units = {f"{layer}.{m}": u for layer in spans.LAYERS
                 for m, u in spans.LAYER_METRICS}
        units.update(TRACE_METRICS)
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in values.items()}
    for k, v in readable.items():
        print(f"# {k}: {v}")
    for e in errors:
        print(f"# MISMATCH {e}")
    return {"correct": not errors, "attempted": n, "failed": failed_ops,
            "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import rgd_rnaseq_workflows_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    work = f"{ROOT}/.perfbench_work/{args.workload}-{args.seed}-{os.getpid()}"
    # on SIGTERM, unwind through the ``finally`` that stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _isolate(work)
    try:
        result = measure(args, work)
    finally:
        try:
            _stop_jvm()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    raise SystemExit(main())
