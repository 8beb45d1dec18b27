"""Benchmark of the capacity pipeline: weekly CSV ingest into a date-
partitioned lake, and dashboard reads against it.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_weekly --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer ones
(see README.md). The last line of standard output is one JSON object:
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``. The
line before it carries the run context. A traced run also writes its spans
and Spark counters to ``.perfbench/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "hospital_stain_tracker_data_pipeline_spark"


class Bench:
    """What one run shares between set-up, the loop and the checks."""

    def __init__(self, args, work: str):
        from spans import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = Tracer()
        self.spark = None
        self.loop_wall = 0.0
        self.inputs_sha256 = ""
        self.trace_record: dict = {}
        self._t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"perfbench: {time.perf_counter() - self._t0:6.1f} s  {msg}", file=sys.stderr)

    def write_inputs(self, batches, reqs) -> None:
        import gen

        csv_dir = os.path.join(self.work, "csv")
        os.makedirs(csv_dir, exist_ok=True)
        for b in batches:
            b.path = os.path.join(csv_dir, f"{b.name}.csv")
            with open(b.path, "w") as f:
                f.write(b.text)
        self.inputs_sha256 = gen.digest(batches, reqs)

    def start_spark(self):
        from hospital_stain_tracker_data_pipeline_spark import session

        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        if self.trace:
            self.tracer.install()
        self.spark = session.get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf={
                "spark.local.dir": local,
                # A 2 GB heap instead of the 8 GB default: the data is
                # small, and with the default the JVM's resident size swung
                # between 2.1 and 3.5 GB from run to run as the collector
                # chose when to grow the heap.
                "spark.driver.memory": "2g",
                # keep every job and stage for the per-span counters
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.tracer.uninstall()
        self.tracer.bind(self.spark.sparkContext)
        return self.spark

    def context(self) -> dict:
        sc = self.spark.sparkContext if self.spark else None
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "nproc": self.cores,
            "master": sc.master if sc else None,
            "default_parallelism": sc.defaultParallelism if sc else None,
            "spark": self.spark.version if sc else None,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version") if sc else None,
            "python": platform.python_version(),
            "inputs_sha256": self.inputs_sha256,
        }

    def stop(self) -> None:
        """Stop Spark and wait for its JVM (and with it the Python workers)
        to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _isolate(work: str) -> None:
    """Keep temporary files of Python, Spark and the JVM inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest_weekly", "dashboard_reads"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: no {PKG}/ next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    _isolate(work)
    b = Bench(args, work)
    try:
        res = getattr(workloads, args.workload)(b)
        ctx = b.context()
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)

    for line in res["problems"][:20]:
        print(f"perfbench: wrong: {line}", file=sys.stderr)
    if b.trace:
        path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"context": ctx, "metrics": res["layers"], **b.trace_record}, f,
                      default=str)
    metrics = res["layers"] if b.trace else res["e2e"]
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": not res["problems"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main()
    print(f"perfbench: {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(rc)
