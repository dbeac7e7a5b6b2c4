"""The engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload clickstream --seed 1 --seconds 16 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics; ``--trace 1`` is a separate run that reads Spark's status store
and streaming progress, records spans around the calls into each layer
(written to ``.perfbench_work/spans-<workload>-<seed>.jsonl``) and reports
the per-layer metrics. Earlier stdout lines carry the workload's metrics
under their own names with unit and sample count; the LAST line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

Workloads (README.md in this directory has the metric tables):

- ``clickstream``: outage catch-up then open-loop live traffic through the
  single-pass Q1 -> {buy, Q2, Q3} streaming job (clickstream.py)
- ``corpus``: one query per operator family from
  ``__spark_entry__.queries()`` at sf0.1 (catalog.py), then documents
  through ``corpus_ingest_sink`` with LSM appends and compactions
  (ingest.py), in one session (corpus.py)

Inputs come from ``perfbench/gen.py`` in a separate single-threaded
process, seeded by ``--seed``; the engine only sees the generated files.
Everything the run writes stays under ``.perfbench_work/`` in the
current directory and is removed at exit (spans excepted).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("clickstream", "corpus")
#: the engine JVM's heap: well under this host class's 15 GB
DRIVER_MEM = "2g"


class Context:
    """What a workload needs: its arguments, a private work directory and
    a way to build the Spark session. The workload owns the session."""

    def __init__(self, args: argparse.Namespace, root: str):
        from obs import Tracer

        self.seed, self.seconds, self.trace = args.seed, args.seconds, args.trace
        self.cpus = args.cpus or len(os.sched_getaffinity(0))
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
        self.tracer = Tracer(bool(args.trace))
        self.gen_py = os.path.join(HERE, "gen.py")
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def gen_env(self) -> dict:
        env = dict(os.environ)
        env.update(OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
                   MKL_NUM_THREADS="1")
        return env

    def session(self):
        from flink_clickstream_processor_msk_spark import get_spark

        tmp = self.path("tmp")
        return get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.local.dir": self.path("local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                # the heap grows from the JVM's default start size, so
                # peak RSS follows what the heap actually holds; no
                # perf-data file in the system temp directory
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100",
                "spark.sql.streaming.numRecentProgressUpdates": "100000",
            },
        )


def self_time_by_name(spans: list[dict]) -> dict[str, float]:
    """Total self time (s) per span name: each layer's time outside its
    child spans."""
    import stats

    own = stats.self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + own[s["id"]]
    return out


def stop_jvm() -> None:
    """End the py4j gateway's JVM (and with it the Python workers it
    forked) and wait for it, so the run leaves no process behind."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0,
                    help="Spark local cores (default: all; 1 = baseline row)")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    # the engine's modules and Python workers resolve from the checkout;
    # temp files and Spark scratch stay inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    import flink_clickstream_processor_msk_spark  # noqa: F401  fail early

    ctx = Context(args, root)
    os.environ["TMPDIR"] = tempfile.tempdir = ctx.path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = ctx.path("local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    import metrics

    module = importlib.import_module(args.workload)
    started = time.time()
    try:
        result = module.run(ctx)
    finally:
        stop_jvm()
        shutil.rmtree(ctx.work, ignore_errors=True)
    if args.trace:
        spans = os.path.join(root, ".perfbench_work",
                             f"spans-{args.workload}-{args.seed}.jsonl")
        ctx.tracer.dump(spans)
        result["info"]["spans_file"] = os.path.relpath(spans, root)
        result["info"]["spans"] = len(ctx.tracer.spans)
        result["info"]["self_s"] = self_time_by_name(ctx.tracer.spans)
    result["info"]["wall_s"] = time.time() - started
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cpus": ctx.cpus, "trace": args.trace, **result["info"]}))
    print(json.dumps({"workload_metrics": result["named"]}))
    print(json.dumps({"end_to_end": result["e2e"]}))
    if args.trace:
        reported = metrics.layer_report(args.workload, result["layers"])
    else:
        reported = result["e2e"]
        if set(reported) != set(metrics.E2E):
            raise KeyError(f"end-to-end metrics {sorted(reported)} != {sorted(metrics.E2E)}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": reported,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
