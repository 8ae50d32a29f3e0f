"""Entity-resolution benchmark: one workload per process, closed loop.

    python3 perfbench/run.py --workload batch_dense --seed 1 --seconds 15 --trace 0

Run from the repository root. Starts Spark on ``local[4]`` with 8
shuffle partitions and a pinned driver heap, builds the workload's
inputs from ``--seed``, warms up (an untimed full-size operation, or
the base commit), then times operations back to back until
``--seconds`` have passed (at least one). Every operation is checked (F1 >= 0.99, every doc
clustered, identical pairs/edges or clusters across operations of a
batch workload); a failed check counts as a failed operation.

The last stdout line is the result JSON. ``--trace 0`` reports the
end-to-end metrics:

  resolve_s    median wall seconds of one timed operation
  docs_per_s   docs resolved per second of resolve_s
  f1           median pairwise F1 of the timed operations
  setup_s      Spark start, input generation, base commit and warm-up
  peak_rss_mb  peak RSS of the process tree (driver, JVM, workers)

``--trace 1`` runs the same loop with spans around every layer entry
point and Spark's eventlog on, and reports the per-layer metrics
(eventlog.py) plus ``trace.resolve_s``, the traced resolve time: the
tracing overhead is trace.resolve_s minus an untraced resolve_s.
The line before the result holds the run context (heap, cores,
partitions, seed, sizes, memory canary) and the per-operation samples.
Everything the run writes goes under ``.perfbench_work/`` and is
removed at exit, except the last traced run's eventlog and spans in
``.perfbench_work/last_trace/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import eventlog
import procrss
import workloads as W
from spans import Tracer

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

CORES = 4
SHUFFLE_PARTITIONS = 8
# pinned below physical memory: the engine's 24g default does not fit a
# 15 GiB box and a JVM allowed to grow past it gets OOM-killed
DRIVER_MEM = "2g"


def _env(run_dir: str, trace: bool) -> None:
    """Keep Spark, its JVM and its Python workers inside the checkout."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(run_dir, "checkpoints"),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            # else the spark-submit launcher JVM writes /tmp/hsperfdata_*
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    os.environ.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    if trace:
        os.environ["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(run_dir, "eventlog")


def _start_spark(run_dir: str):
    from chameleon_entity_linking_spark.plans.session import get_spark

    tmp = os.environ["TMPDIR"]
    # a fixed young generation: with G1 sizing it per pause goal, the
    # JVM's peak RSS wandered by 500 MB between identical runs
    return get_spark(
        app_name="perfbench",
        cores=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn384m",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and every worker to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while procrss.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in procrss.descendants(os.getpid()):
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def _context(args, workload, canary: int) -> dict:
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "driver_mem": DRIVER_MEM,
        "cores": CORES,
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "warmup_s": workload.warmup_s,
        "sizes": {
            "dense_entities": W.DENSE_ENTITIES,
            "flagship_docs": W.FLAGSHIP_DOCS,
            "inc_base_entities": W.INC_BASE_ENTITIES,
            "inc_delta_docs": W.INC_DELTA_DOCS,
        },
        "mem_canary_mb_s": canary,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import chameleon_entity_linking_spark  # noqa: F401
        from bench import mem_canary_mb_s
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _env(run_dir, bool(args.trace))

    spark = None
    try:
        with procrss.TreeRssSampler() as rss:
            spark = _start_spark(run_dir)
            workload = W.WORKLOADS[args.workload](spark, run_dir, args.seed)
            setup_s = time.perf_counter() - T_START
            canary = mem_canary_mb_s()
            tracer = None
            if args.trace:
                tracer = Tracer(spark, workload.counted)
                tracer.install()
            samples = []
            t_measure = time.perf_counter()
            while not samples or time.perf_counter() - t_measure < args.seconds:
                samples.append(_attempt(workload, tracer))
            if tracer is not None:
                tracer.uninstall()
        _stop_spark(spark)
        spark = None
        failed = sum(not all(s["checks"].values()) for s in samples)
        resolve = statistics.median(s["resolve_s"] for s in samples)
        docs = statistics.median(s["docs"] for s in samples)
        if tracer is None:
            metrics = {
                "resolve_s": (resolve, "s"),
                "docs_per_s": (docs / resolve, "1/s"),
                "f1": (statistics.median(s["f1"] for s in samples), "ratio"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (rss.peak_mb, "MB"),
            }
        else:
            metrics = _layer_metrics(run_dir, tracer, samples)
            metrics["trace.resolve_s"] = (resolve, "s")
        context = _context(args, workload, canary)
        context["peak_rss_mb_by_command"] = {
            k: round(v / 2**20, 1) for k, v in rss.peak_split.items()
        }
        context["samples"] = [
            {k: v for k, v in s.items() if k != "checks"}
            | {"failed_checks": [c for c, ok in s["checks"].items() if not ok]}
            for s in samples
        ]
        print("context " + json.dumps(context))
        print(
            json.dumps(
                {
                    "correct": failed == 0,
                    "attempted": len(samples),
                    "failed": failed,
                    "metrics": {
                        k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
                    },
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def _attempt(workload, tracer) -> dict:
    """One timed operation; one that raises is a failed sample, not a crash."""
    t0 = time.perf_counter()
    try:
        if tracer is None:
            return workload.op()
        sample = workload.op(region=lambda: tracer.span("pipeline"))
        return sample | tracer.take_counts()
    except Exception:
        traceback.print_exc()
        return {
            "resolve_s": time.perf_counter() - t0,
            "docs": 0,
            "f1": 0.0,
            "pairs": 0,
            "edges": 0,
            "checks": {"completed": False},
        }


_UNITS = {
    "self_s": "s",
    "jobs": "count",
    "task_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
    "skew": "ratio",
    "commits": "count",
    "write_mb": "MB",
    "driver_gap_s": "s",
    "cpu_util": "ratio",
}


def _layer_metrics(run_dir: str, tracer, samples: list[dict]) -> dict:
    """Per-layer table from the eventlog, plus the pair/edge funnel."""
    logs = os.listdir(os.path.join(run_dir, "eventlog"))
    log = os.path.join(run_dir, "eventlog", logs[0])
    keep = os.path.join(WORK, "last_trace")
    shutil.rmtree(keep, ignore_errors=True)
    os.makedirs(keep)
    shutil.copytree(log, os.path.join(keep, "eventlog"))
    with open(os.path.join(keep, "spans.json"), "w") as f:
        json.dump({"cores": CORES, "spans": tracer.spans}, f)

    table = eventlog.median_table(eventlog.summarize(log, tracer.spans, CORES))
    out = {k: (v, _UNITS[k.split(".", 1)[1]]) for k, v in table.items()}
    pairs = statistics.median(s["pairs"] for s in samples)
    edges = statistics.median(s["edges"] for s in samples)
    docs = statistics.median(s["docs"] for s in samples)
    out["block.pairs_out"] = (pairs, "count")
    out["block.pairs_per_doc"] = (pairs / docs if docs else 0.0, "pairs/doc")
    out["edges.rows_out"] = (edges, "count")
    out["edges.yield"] = (edges / pairs if pairs else 0.0, "ratio")
    return out


if __name__ == "__main__":
    sys.exit(main())
