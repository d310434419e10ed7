"""perfbench entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload medallion_incremental \
        --seed 7 --seconds 20 --trace 0

Run from the root of a checkout: the engine under test is the
``weather_etl_pipeline_spark`` package beside this directory, never an
installed copy. Everything the run writes (Spark scratch, the lake and
stores it builds, event logs, the program's stderr) goes under
``.perfbench/`` in the checkout; the run's data directory is deleted
at exit, its log and span files are kept under ``.perfbench/logs``.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``. The lines before it record the pinned host facts
and the workload's own figures under the names in README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "weather_etl_pipeline_spark"
# Below host RAM on any host this runs on; session.py's own default
# (24g) exceeds a 15 GB host. The heap is sized at this from the start
# (-Xms): with a growing heap, op times followed the collector's
# resizing from run to run, and with a 2g heap medallion op times
# spread wider (0.15-0.20 against 0.06-0.16 over ten seeds). Its pages
# are not touched in advance, so the JVM's peak RSS is what the run
# made it use.
DRIVER_MEMORY = "1g"
# workload name -> module in this directory with its ``run(ctx)``
WORKLOADS = {"medallion_incremental": "medallion", "curation_microbatch": "curation"}
# env knobs session.py reads; unset so every run uses the same defaults
_UNPINNED_ENV = (
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_MIN_PARTITION_SIZE",
    "SPARK_GRAFT_CODEGEN_CACHE",
    "SPARK_GRAFT_PARTITION_DISCOVERY_THRESHOLD",
    "SPARK_GRAFT_MAX_PARTITION_BYTES",
    "PYSPARK_SUBMIT_ARGS",
)


def _pin_environment(work: Path, cores: int) -> None:
    """Pins what session.py and Spark read from the environment and
    keeps every scratch write (Python, JVM, Spark) inside ``work``."""
    for d in ("tmp", "local", "warehouse", "events"):
        (work / d).mkdir(parents=True, exist_ok=True)
    for k in _UNPINNED_ENV:
        os.environ.pop(k, None)
    pypath = os.environ.get("PYTHONPATH")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=str(work / "local"),
        SPARK_WAREHOUSE_DIR=str(work / "warehouse"),
        TMPDIR=str(work / "tmp"),
        # executor-side Python workers import the package from here
        PYTHONPATH=f"{ROOT}:{pypath}" if pypath else str(ROOT),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )
    import tempfile

    tempfile.tempdir = str(work / "tmp")


def _git_head() -> str:
    """HEAD from ``.git`` when the checkout is a repository."""
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return "none"
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        target = ROOT / ".git" / ref[5:]
        return target.read_text().strip() if target.is_file() else ref[5:]
    return ref


class RunContext:
    """State of one benchmark run, passed to the workload's ``run``."""

    def __init__(self, args, work: Path, cores: int):
        from harness import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.size = args.size
        self.work = work
        self.cores = cores
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
        self.spark = None
        self.peak_mb = 0.0

    def start_session(self):
        """Starts the SparkSession through session.py, launching the
        JVM."""
        from weather_etl_pipeline_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{self.work / 'events'}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        with self.tracer.span("session.start"):
            self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        if self.trace:
            from harness import Py4jCounter

            self.tracer.counter = Py4jCounter(self.spark.sparkContext._gateway._gateway_client)
        return self.spark

    def setup(self, generate):
        """Set-up as a user pays it: session start, which launches the
        JVM, plus input generation. Done once per run: a JVM launch
        takes most of the set-up time, and repeating it would not leave
        room for the run budget."""
        with self.tracer.span("setup"):
            self.start_session()
            return generate()

    def mark_peak(self) -> None:
        """Records the run's peak memory once the timed ops are done,
        before the output checks: the Python process's VmHWM plus the
        JVM's, both read from /proc."""
        from harness import vm_hwm_mb

        jvm = self.spark.sparkContext._gateway.proc.pid
        self.peak_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm)

    def stop(self) -> None:
        """Stops the session and the JVM and waits for it to exit."""
        from pyspark import SparkContext

        if self.tracer.counter:
            self.tracer.counter.close()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


def _metrics(ctx: RunContext, result) -> dict:
    from harness import EventLog, span_layers

    t = ctx.tracer
    warm = t.named("op.warm")
    if not ctx.trace:
        values = {
            "setup_s": (t.named("setup")[0].seconds, "s"),
            "peak_rss_mb": (ctx.peak_mb, "MB"),
            "initial_s": (t.named("op.cold")[0].seconds, "s"),
            "step_p50_s": (median(s.seconds for s in warm), "s"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    log = EventLog.parse(str(ctx.work / "events"))
    cold = span_layers(log, t.named("op.cold")[0], ctx.cores)
    steps = [span_layers(log, s, ctx.cores) for s in warm]

    def step(key):
        return median(w[key] for w in steps)

    values = {
        "session.start_s": (t.named("session.start")[0].seconds, "s"),
        "registry.py4j_calls": (step("py4j_calls"), "count"),
        "registry.build_s": (step("build_s"), "s"),
        "registry.build_cold_s": (cold["build_s"], "s"),
        "exec.exec_s": (step("exec_s"), "s"),
        "exec.jobs": (step("jobs"), "count"),
        "exec.jobs_cold": (cold["jobs"], "count"),
        "exec.stages": (step("stages"), "count"),
        "exec.tasks": (step("tasks"), "count"),
        "exec.executor_run_s": (step("executor_run_s"), "s"),
        "exec.slot_util": (step("slot_util"), "ratio"),
        "exec.shuffle_write_bytes": (step("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (step("spill_bytes"), "bytes"),
        "sources.lease_roundtrip_s": (
            median(s.seconds for s in t.named("sources.lease_roundtrip")),
            "s",
        ),
        "sources.files": (result.files, "count"),
        "sources.bytes_per_row": (result.bytes_per_row, "bytes"),
    }
    # workload-specific layer figures, reported on the detail line:
    # medians over the named spans inside warm steps, or over all of
    # them for spans outside the steps (the standalone layer probes)
    warm_ids = {i for i, s in enumerate(t.spans) if s.name == "op.warm"}
    for name, (span_name, key, unit) in result.layer_spans.items():
        spans = [s for s in t.named(span_name) if s.parent in warm_ids]
        spans = spans or t.named(span_name)
        if key == "seconds":
            v = median(s.seconds for s in spans)
        else:
            v = median(span_layers(log, s, ctx.cores)[key] for s in spans)
        result.details[name] = (v, unit)
    return {k: {"value": v, "unit": u} for k, (v, u) in values.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size",
        choices=("full", "tiny", "large"),
        default="full",
        help="tiny: smallest inputs, for the self-tests; large: a 480-partition "
        "lake with 2-day steps, 200-doc batches over a 1000-doc corpus "
        "(minutes per run, beyond the run budget)",
    )
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE}/ beside perfbench/ in {ROOT}", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    base = ROOT / ".perfbench"
    log_dir = base / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = base / f"run-{tag}"
    _pin_environment(work, cores)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(Path(__file__).resolve().parent))

    # program output (Python and the JVM it launches) goes to the log;
    # the result lines go to the original stdout
    out = os.fdopen(os.dup(1), "w")
    err = os.fdopen(os.dup(2), "w")
    log = open(log_dir / f"{tag}.log", "w")
    os.dup2(log.fileno(), 1)
    os.dup2(log.fileno(), 2)

    import pyspark

    from harness import host_ram_gb

    host = {
        "nproc": cores,
        "ram_gb": host_ram_gb(),
        "master": f"local[{cores}]",
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "spark_driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "pyspark": pyspark.__version__,
        "git_head": _git_head(),
    }
    module = importlib.import_module(WORKLOADS[args.workload])
    ctx = RunContext(args, work, cores)
    code = 1
    try:
        result = module.run(ctx)
        ctx.stop()
        metrics = _metrics(ctx, result)
        ctx.tracer.dump(str(log_dir / f"{tag}.spans.jsonl"))
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "size": args.size,
            "time": time.time(),
            "host": host,
            "details": {k: {"value": v, "unit": u} for k, (v, u) in result.details.items()},
            "metrics": metrics,
            "attempted": result.attempted,
            "failed": result.failed,
        }
        with open(base / "results.jsonl", "a") as f:
            f.write(json.dumps(record) + "\n")
        print("perfbench host " + json.dumps(host), file=out)
        print(f"perfbench {args.workload} " + json.dumps(record["details"]), file=out)
        print(
            json.dumps(
                {
                    "correct": result.failed == 0,
                    "attempted": result.attempted,
                    "failed": result.failed,
                    "metrics": metrics,
                }
            ),
            file=out,
        )
        code = 0
    except Exception:
        traceback.print_exc()
        print(f"perfbench: run failed, see {log.name}", file=err)
    finally:
        try:
            ctx.stop()
        except Exception:
            traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)
        err.flush()
        out.flush()
        log.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
