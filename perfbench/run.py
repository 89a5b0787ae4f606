"""Benchmark command: one workload, one seed, on local[nproc].

    python3 perfbench/run.py --workload batch --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted`` (units checked), ``failed`` (units found
missing, duplicated or routed wrongly) and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, from a run that also repeats the untraced measurement to
report the tracing overhead. The line before it carries the host block and
the raw samples. The command exits 1 when the output check fails and 2 when
the program is not beside ``perfbench/``.

Everything the run writes goes under ``.bench_work/`` in the repository
root, which is removed at the end.
"""

import time

T_START = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "healthcare_data_harmonization_dataflow_spark"
WORKLOADS = ("batch", "stream")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _spark_settings(work: str, nproc: int, mem_gb: float) -> dict:
    """Host-sized session settings and scratch locations inside ``work``."""
    heap_gb = max(2, min(16, int(mem_gb / 4)))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{heap_gb}g"  # read by build_session
    return {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size (initial = max), so heap growth does not vary
        # from run to run
        "spark.driver.extraJavaOptions": f"-Xms{heap_gb}g"
        f" -Dderby.system.home={os.path.join(work, 'derby')}",
    }


class SparkProcess:
    """The Spark JVM this run starts, and its orderly shutdown."""

    def __init__(self, conf: dict, nproc: int):
        self.conf = conf
        self.nproc = nproc
        self.spark = None

    def start(self, master: str):
        from healthcare_data_harmonization_dataflow_spark.session import build_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(
            app_name="perfbench",
            master=master,
            shuffle_partitions=2 * self.nproc,
            extra_conf=self.conf,
        )
        return self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        """Stop the session, let the JVM exit and wait for it and every
        process it forked (the Python workers) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from perfbench.probes import process_tree

        gateway = SparkContext._gateway
        tree = process_tree(gateway.proc.pid)
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            gateway.proc.wait(timeout=60)
        except Exception:
            gateway.proc.kill()
            gateway.proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
            time.sleep(0.1)
        self.spark = None


def run(args) -> int:
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    for d in ("tmp", "derby", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # before pyspark is imported, so its temporary files land here too
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # also for the launcher JVM that spark-submit starts before the driver
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    sys.path.insert(0, ROOT)
    from perfbench import probes, workloads

    nproc = probes.host_nproc()
    host = probes.host_block()
    proc = SparkProcess(_spark_settings(work, nproc, host["mem_gb"]), nproc)
    try:
        spark = proc.start(f"local[{nproc}]")
        ctx = workloads.Context(
            spark, work, args.seed, args.seconds, nproc, T_START, proc.start
        )
        with probes.RssSampler(proc.jvm_pid) as rss:
            outcome = workloads.WORKLOADS[args.workload](ctx, bool(args.trace))
    finally:
        proc.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
        except OSError:
            pass

    host["load1_after"] = probes.load1()
    if args.trace:
        m = outcome.metrics
        m["host.nproc"] = nproc
        m["host.mem_gb"] = host["mem_gb"]
        m["host.load1_before"] = host["load1"]
        m["host.load1_after"] = host["load1_after"]
        metrics = workloads.fill_layers(m)
    else:
        outcome.metrics["peak_rss_mb"] = rss.peak_mb
        units = {"turns_per_s": "turns/s", "batch_p50_ms": "ms", "setup_s": "s",
                 "peak_rss_mb": "MB"}
        metrics = {k: {"value": outcome.metrics[k], "unit": u} for k, u in units.items()}
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "rss_at_peak_mb": rss.at_peak,
            "host": host, "error_rate": outcome.failed / max(1, outcome.attempted),
            **outcome.info}
    print(json.dumps(info))
    correct = outcome.failed == 0 and outcome.attempted > 0
    print(json.dumps({"correct": correct, "attempted": int(outcome.attempted),
                      "failed": int(outcome.failed), "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the program ({PACKAGE}/) is not beside perfbench/",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
