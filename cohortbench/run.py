"""Cohort → Phenopacket benchmark: config-declared clinical tables are read,
rewritten by strategies, folded per patient and written as one Phenopacket
per subject, back to back in one Spark session (one closed-loop client).

    python3 cohortbench/run.py --workload etl_large --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of one traced
conversion (see ``cohortbench/README.md``).  Host pins and the span file
go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
IT_DIR = os.path.join(ROOT, "tests", "assets", "integration_test")
WORK = os.path.join(ROOT, ".cohortbench")
DRIVER_MEM = "2g"
# the seed whose output digests are pinned in digests.json
DEFAULT_SEED = 1


def pin_host() -> dict:
    """Size Spark to this host instead of get_spark's 32-core / 24 GB
    defaults, and keep every file Spark writes inside the checkout."""
    cpus = str(len(os.sched_getaffinity(0)))
    pins = {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
    }
    for d in (pins["SPARK_LOCAL_DIRS"], pins["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(pins)
    return pins


def setup():
    """Fresh process → SparkSession with the ontology dimensions built."""
    from phenoxtract_spark import get_spark
    from workloads import build_dims

    spark = get_spark(
        app_name="cohortbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    dims = build_dims(spark, IT_DIR)
    return spark, dims, time.perf_counter() - T_PROCESS


def stop_spark(spark) -> None:
    """Stop Spark and wait until the driver JVM, which owns the Python
    workers, has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def peak_rss_mb(spark) -> float:
    """VmHWM of this Python process plus the Spark driver JVM."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    total_kb = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            total_kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total_kb / 1024.0


def calibrate(spark, cores: int) -> dict:
    """Fixed host probes: a JVM-only range aggregate and an Arrow
    mapInPandas pass.  They move only when the host does."""

    def double(batches):
        for pdf in batches:
            yield pdf.assign(id=pdf["id"] * 2)

    out = {}
    t = time.perf_counter()
    spark.range(0, 50_000_000, numPartitions=cores).selectExpr("sum(id % 7 * (id % 13))").collect()
    out["host.calib_jvm_s"] = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(0, 2_000_000, numPartitions=cores).mapInPandas(double, "id long") \
        .write.format("noop").mode("overwrite").save()
    out["host.calib_arrow_s"] = time.perf_counter() - t
    return out


class Run:
    """Conversions back to back over one generated cohort; every output is
    checked and counted."""

    def __init__(self, spark, dims, workload: str, seed: int):
        from gen_cohort import generate, load_vocab
        from workloads import WORKLOADS, cohort_config

        self.spark, self.dims = spark, dims
        self.w = WORKLOADS[workload]
        self.dir = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}")
        self.cohort = generate(os.path.join(self.dir, "in"), self.w.shape, seed, load_vocab(IT_DIR))
        self.cfg = cohort_config(self.w)
        self.attempted = self.failed = 0
        self.digests: set[str] = set()
        self.out_bytes = 0

    def convert(self, tracer) -> float:
        """Time one conversion, then check its output.  Returns the wall
        seconds; a conversion that raised or wrote wrong output is counted
        in ``failed``."""
        from workloads import check_output, convert, output_bytes

        out = os.path.join(self.dir, "out")
        shutil.rmtree(out, ignore_errors=True)
        self.attempted += 1
        t = time.perf_counter()
        try:
            convert(self.spark, self.w, self.cfg, self.dims, self.cohort["paths"], out, tracer)
        except Exception:  # a failed conversion is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
            return time.perf_counter() - t
        wall = time.perf_counter() - t
        ok, digest, why = check_output(self.w, out, self.cohort)
        self.digests.add(digest)
        if not ok:
            print(f"wrong output: {why}", file=sys.stderr)
            self.failed += 1
        self.out_bytes = output_bytes(out)
        return wall


def untraced(run: Run, seconds: float) -> dict:
    """Conversions until ``seconds`` have passed (at least one); the first
    one, in a fresh session, is the cold conversion."""
    from tracing import NoTracer

    t_end = time.perf_counter() + seconds
    cold = run.convert(NoTracer())
    while time.perf_counter() < t_end:
        run.convert(NoTracer())
    return {"cold_convert_s": ("s", cold), "peak_rss_mb": ("MB", peak_rss_mb(run.spark))}


def traced(run: Run, cores: int) -> dict:
    """One traced cold conversion: span times, Spark jobs per layer and the
    status-store totals of the conversion; then the host probes."""
    from tracing import Tracer
    from workloads import STRATEGY_KINDS

    tracer = Tracer(run.spark)
    tracer.conversion = 0
    wall = run.convert(tracer)
    jobs = tracer.walk()
    metrics = {k: ("s", v) for k, v in calibrate(run.spark, cores).items()}
    secs = {}
    for s in tracer.spans:
        secs[s["name"]] = secs.get(s["name"], 0.0) + s["end"] - s["start"]
    for layer in ["readers", "preprocess", "ledger", "collect", "sink"] + [
        f"strategies.{k}" for k in STRATEGY_KINDS
    ]:
        metrics[f"{layer}.s"] = ("s", secs.get(layer, 0.0))
        metrics[f"{layer}.jobs"] = ("count", jobs["by_span"].get(layer, 0))
    metrics["config.s"] = ("s", secs.get("config", 0.0))
    metrics["sink.out_bytes_per_subject"] = ("B/subject", run.out_bytes / len(run.cohort["subjects"]))
    metrics["spark.jobs"] = ("count", jobs["jobs"])
    metrics["spark.tasks"] = ("count", jobs["tasks"])
    metrics["spark.scan_amplification"] = ("ratio", jobs["input_records"] / run.cohort["source_rows"])
    metrics["spark.shuffle_write_mb"] = ("MB", jobs["shuffle_write_b"] / 2**20)
    metrics["spark.spill_mb"] = ("MB", jobs["spill_b"] / 2**20)
    metrics["spark.cpu_util"] = ("fraction", jobs["run_time_s"] / (wall * cores))
    metrics["spark.task_skew"] = ("ratio", jobs["task_skew"])
    metrics["trace.overhead_frac"] = ("fraction", tracer.overhead_s / (wall - tracer.overhead_s))
    os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
    span_file = os.path.join(WORK, "spans", os.path.basename(run.dir) + ".json")
    tracer.dump(span_file)
    print(f"spans: {span_file}", file=sys.stderr)
    return metrics


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    pins = pin_host()
    spark, dims, setup_s = setup()
    print(f"host pins: {json.dumps(pins)}", file=sys.stderr)
    try:
        run = Run(spark, dims, args.workload, args.seed)
        cores = int(pins["SPARK_GRAFT_CPUS"])
        if args.trace:
            metrics = traced(run, cores)
        else:
            metrics = untraced(run, args.seconds)
            metrics["setup_s"] = ("s", setup_s)
        shutil.rmtree(run.dir, ignore_errors=True)
    finally:
        stop_spark(spark)
    with open(os.path.join(HERE, "digests.json")) as f:
        pinned = json.load(f)[args.workload]
    digest_ok = len(run.digests) == 1 and (args.seed != DEFAULT_SEED or run.digests == {pinned})
    if not digest_ok:
        print(f"output digests {sorted(run.digests)}; pinned for seed {DEFAULT_SEED}: {pinned}",
              file=sys.stderr)
    print(f"{run.attempted} conversions of {len(run.cohort['subjects'])} subjects", file=sys.stderr)
    result = {
        "correct": run.failed == 0 and digest_ok,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (u, v) in sorted(metrics.items())},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path[:0] = [HERE, ROOT]
    if not os.path.isfile(os.path.join(ROOT, "phenoxtract_spark", "__init__.py")) or not os.path.isdir(IT_DIR):
        print("cohortbench: run from the root of a phenoxtract_spark checkout "
              "(package and tests/assets/integration_test are missing)", file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
