"""The measured process of one perfbench run (started by run.py).

It sets up a Spark session, runs one cold job, WARMUP_JOBS unmeasured
warm-up jobs and then measured jobs of one workload for ``--seconds``,
times a fixed plain-PySpark reference job after every job, and writes a
JSON record of every job to ``--result``. With
``--trace 1`` it alternates untraced and traced measured jobs, records
spans and Spark node metrics for the traced ones, and runs the kernel
probe at the end.

Usage (run.py builds this command line)::

    python3 perfbench/child.py --workload pip_join --seed 1 --seconds 10 \
        --trace 0 --inputs DIR --work DIR --result FILE
"""

import argparse
import json
import os
import sys
import time
import traceback

from run import session_pids

# Job times keep falling for the first warm jobs after the cold one
# (JIT compilation of the plan-build and execution paths), so the first
# WARMUP_JOBS warm jobs are run but not measured.
WARMUP_JOBS = 1
MIN_MEASURED_JOBS = 2    # per kind (untraced / traced)


def _parse(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    return p.parse_args(argv)


def _warm_workers(spark):
    """Spawn the Python worker pool and import the kernel stack in it,
    two eval nodes deep (a filter UDF cannot fuse with a projection
    UDF), so jobs find the pool a long-running session would have."""
    import pandas as pd
    from pyspark.sql.functions import col, pandas_udf

    @pandas_udf("boolean")
    def warm_pred(s: pd.Series) -> pd.Series:
        import arctic_spark.functions.udfs  # noqa: F401
        return s >= 0

    @pandas_udf("long")
    def warm(s: pd.Series) -> pd.Series:
        import arctic_spark.functions.udfs  # noqa: F401
        return s

    n = spark.sparkContext.defaultParallelism
    (spark.range(n * 8, numPartitions=n).where(warm_pred("id"))
     .select(warm(col("id"))).write.format("noop").mode("overwrite").save())


def worker_peak_rss_mb():
    """Largest VmHWM of any Python worker (or daemon) of this session,
    which the child leads."""
    peak = 0
    for pid in session_pids(os.getsid(0)):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except OSError:
            continue
    return peak / 1024.0


def _reference_job():
    """A fixed plain-PySpark job that uses none of arctic_spark: a
    60-column projection built over py4j, JVM expression evaluation, an
    Arrow pandas UDF in the Python workers and an aggregate, a second or
    two of wall time. It runs after every workload job, so that job
    times can be read against the machine's speed at that moment."""
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def chain(s: pd.Series) -> pd.Series:
        import numpy as np
        v = s.to_numpy(dtype=np.float64)
        for _ in range(30):
            v = np.sqrt(v * 1.0001 + 1.0)
        return pd.Series(v)

    def run():
        spark = SparkSession.getActiveSession()
        t = time.perf_counter()
        df = spark.range(0, 400_000, numPartitions=8)
        df = df.select("id", *[(F.col("id") * (i + 1) % 97).alias(f"c{i}")
                               for i in range(60)])
        df = df.select(chain(F.col("id")).alias("u"),
                       *[F.sqrt(F.col(f"c{i}")).alias(f"r{i}")
                         for i in range(60)])
        df.agg(F.sum("u"), *[F.sum(f"r{i}") for i in range(20)]).collect()
        return time.perf_counter() - t

    return run


def _shutdown(spark):
    """Stop Spark and the gateway JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv):
    args = _parse(argv)
    from spans import SparkCounters, Tracer, summarize_nodes
    import workloads
    from arctic_spark.session import get_spark

    tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}",
                    enabled=bool(args.trace))
    tmp = os.path.join(args.work, "tmp")
    with tracer.span("session.get_spark", "session"):
        t = time.perf_counter()
        spark = get_spark("perfbench", **{
            "spark.local.dir": os.environ.get("SPARK_LOCAL_DIRS", tmp),
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        })
        get_spark_s = time.perf_counter() - t
    with tracer.span("session.worker_spawn", "session"):
        t = time.perf_counter()
        _warm_workers(spark)
        worker_spawn_s = time.perf_counter() - t
    ready = time.monotonic()

    sc = spark.sparkContext
    task_counters = SparkCounters(spark)
    counters = task_counters if args.trace else None
    tracer.counters = counters
    if args.trace:
        workloads.trace_cell_size(tracer)
    wl = workloads.WORKLOADS[args.workload](spark, args.inputs, args.work)
    reference = _reference_job()

    def run_job(k, traced, phase):
        spark.catalog.clearCache()
        group = f"perfbench-job-{k}"
        sc.setJobGroup(group, f"{args.workload} job {k}")
        tracer.enabled = traced
        rec = {"k": k, "traced": traced, "phase": phase, "signature": None,
               "error": None}
        t0 = time.perf_counter()
        try:
            with tracer.span(f"job-{k}", "job") as js:
                sig = wl.run(tracer)
            rec["wall_s"] = time.perf_counter() - t0
            tracer.enabled = False
            sig.update(wl.verify())
            rec["signature"] = sig
        except Exception:
            rec["wall_s"] = time.perf_counter() - t0
            rec["error"] = traceback.format_exc()
            tracer.enabled = False
            js = None
        rec["exec_s"], rec["gc_s"] = task_counters.task_seconds(group)
        if traced and js is not None:
            rows = counters.node_metrics(js["exec_range"])
            nodes = summarize_nodes(rows)
            actions = [s for s in tracer.subtree(js["id"])
                       if s["layer"] == "action"]
            for s in actions:
                s["metrics"] = summarize_nodes(rows, s["exec_range"])
            rec["layers"] = {
                "nodes": nodes,
                "action_nodes": {k: sum(s["metrics"][k] for s in actions)
                                 for k in nodes},
                "self_s": tracer.layer_self_times(js["id"]),
                "task_skew": counters.task_skew(group)}
        sc.setJobGroup(f"perfbench-ref-{k}", "reference job")
        rec["ref_s"] = reference()
        return rec

    # after the cold job and the warm-up jobs, measured jobs run until
    # --seconds have passed (at least MIN_MEASURED_JOBS of each kind);
    # with --trace 1 untraced and traced jobs alternate
    kinds = [False, True] if args.trace else [False]
    jobs = [run_job(0, bool(args.trace), "cold")]
    jobs += [run_job(k, False, "warmup")
             for k in range(1, WARMUP_JOBS + 1)]
    t_window = time.monotonic()
    n = 0
    while (n < MIN_MEASURED_JOBS * len(kinds)
           or time.monotonic() - t_window < args.seconds):
        jobs.append(run_job(len(jobs), kinds[n % len(kinds)], "measured"))
        n += 1

    result = {"ready": ready,
              "get_spark_s": get_spark_s, "worker_spawn_s": worker_spawn_s,
              "jobs": jobs, "worker_peak_rss_mb": worker_peak_rss_mb()}
    if args.trace:
        import kernels
        result["kernels"] = kernels.probe(args.workload, args.inputs)
        trace_dir = os.path.join(args.work, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.dump(os.path.join(trace_dir, f"{tracer.run_id}.json"))
    _shutdown(spark)
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
