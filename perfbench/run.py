"""perfbench — seeded end-to-end and per-layer benchmark of arctic_spark.

Usage, from the repository root::

    python3 perfbench/run.py --workload overlay --seed 1 --seconds 10 --trace 0

Workloads: ``overlay`` and ``battery_rw`` (BENCHMARK.json says why each
is there), plus ``pip_join``, which the smoke check runs but
BENCHMARK.json leaves out to keep the benchmark inside its time budget.

One run:

1. generates the workload's inputs from ``--seed`` (cached under
   ``.perfbench_work/cache``, outside every timed region) together with
   the numpy oracle's expected signature;
2. starts a fresh measured process (child.py) on ``local[<cpus>]`` and
   times it from spawn to a warm session (``setup_s``);
3. the child runs one cold job (``first_job_s``), one unmeasured warm-up
   job, then measured warm jobs for ``--seconds`` (at least 2); every
   job rebuilds its DataFrames from the files, with the Spark cache
   cleared in between, and is followed by a fixed plain-PySpark
   reference job; ``job_vs_ref`` is a job's wall time over the reference
   times around it, so a change in the machine's speed moves both sides
   alike;
4. every job's signature is checked against the oracle; a job that
   fails or mismatches counts in ``failed``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` interleaves
traced and untraced measured jobs and prints the per-layer metrics,
including the tracing overhead against the untraced jobs. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (name -> value and unit).

``--size tiny`` runs the smoke-check sizes; ``--size full`` is the
benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 170

E2E_UNITS = {"setup_s": "s", "job_vs_ref": "x", "worker_peak_rss_mb": "MB"}

# first_job_s is one cold sample per process, and raw job times swing
# with the speed of a shared machine by more than any regression bound
# (job_vs_ref is the bounded job-time metric), so these are reported
# with the per-layer figures.
PER_LAYER_UNITS = {
    "first_job_s": "s", "job_s": "s", "rows_per_s": "1/s",
    "exec_cpu_s": "s", "reference_s": "s",
    "session.get_spark_s": "s", "session.worker_spawn_s": "s",
    "plan.build_s": "s", "plan.cell_size_s": "s", "action.self_s": "s",
    "scan.time_ms": "ms", "scan.bytes": "B",
    "codegen.duration_ms": "ms",
    "exchange.shuffle_write_bytes": "B", "exchange.records": "count",
    "exchange.fetch_wait_ms": "ms",
    "python.eval_nodes": "count", "python.start_ms": "ms",
    "python.init_ms": "ms", "python.run_ms": "ms",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "python.rows": "count",
    "write.bytes": "B", "write.commit_ms": "ms",
    "bytes_written_per_row": "B",
    "stage.task_skew": "ratio", "jvm.gc_s": "s",
    "joins.cells_per_row": "ratio", "joins.candidate_pairs": "count",
    "joins.matches": "count", "joins.refine_yield": "ratio",
    "kernel.batch_intersects_us": "us", "kernel.boolean_intersection_us": "us",
    "kernel.wkb_decode_us": "us", "kernel.wkb_encode_us": "us",
    "kernel.arrow_decode_us": "us", "kernel.pandas_decode_us": "us",
    "kernel.convex_hull_us": "us", "kernel.simplify_us": "us",
    "kernel.is_valid_us": "us",
    "trace.overhead_pct": "%",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("pip_join", "overlay", "battery_rw"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def _cpus():
    return len(os.sched_getaffinity(0))


def session_pids(sid):
    """pids of the live processes in session ``sid``."""
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:
            out.append(int(d))
    return out


def _reap_session(sid, timeout=30.0):
    """Kill whatever the measured process left in its session (JVM,
    Python daemon and workers) and wait until every one has exited."""
    deadline = time.monotonic() + timeout
    while True:
        pids = session_pids(sid)
        if not pids:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {pids} did not exit")
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _median(values):
    return statistics.median(values) if values else 0.0


def _run_child(args, input_dir, work):
    result_path = os.path.join(work, f"result-{os.getpid()}.json")
    log_path = os.path.join(work, "logs",
                            f"{args.workload}-s{args.seed}-{os.getpid()}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ,
               PYTHONPATH=ROOT + os.pathsep + os.environ.get("PYTHONPATH", ""),
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS=str(_cpus()),
               SPARK_DRIVER_MEMORY="3g",
               SPARK_LOCAL_DIRS=local, TMPDIR=tmp,
               # every JVM, the spark-submit launcher included: temp files
               # stay in the checkout and no hsperfdata is written
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = [sys.executable, os.path.join(HERE, "child.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--inputs", input_dir, "--work", work, "--result", result_path]
    with open(log_path, "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_session(proc.pid)
            proc.wait()
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"measured process failed (exit {code}); "
                           f"log {log_path}:\n{tail}")
    with open(result_path) as f:
        result = json.load(f)
    os.remove(result_path)
    result["setup_s"] = result["ready"] - t_spawn
    return result


def _measured(res, traced):
    return [j for j in res["jobs"]
            if j["phase"] == "measured" and j["traced"] == traced]


def _job_vs_ref(res):
    """Median over the untraced measured jobs of the job's wall time over
    the mean of the reference-job times just before and just after it.
    Both sides see the same machine speed, so the ratio stays put when a
    shared machine slows down or speeds up for minutes at a time."""
    jobs = res["jobs"]
    return _median([j["wall_s"] / ((jobs[i - 1]["ref_s"] + j["ref_s"]) / 2)
                    for i, j in enumerate(jobs)
                    if j["phase"] == "measured" and not j["traced"]])


def _end_to_end(res):
    return {
        "setup_s": res["setup_s"],
        "job_vs_ref": _job_vs_ref(res),
        "worker_peak_rss_mb": res["worker_peak_rss_mb"],
    }


def _per_layer(res, rows, matches_key):
    traced = [j for j in _measured(res, True) if "layers" in j]
    untraced = _measured(res, False)
    cold = res["jobs"][0].get("layers", {})

    def med(fn):
        return _median([fn(j) for j in traced])

    job_s = _median([j["wall_s"] for j in untraced])
    out = {
        "first_job_s": res["jobs"][0]["wall_s"],
        "job_s": job_s,
        "rows_per_s": rows / job_s if job_s > 0 else 0.0,
        "exec_cpu_s": _median([j["exec_s"] for j in untraced]),
        "reference_s": _median([j["ref_s"] for j in res["jobs"]
                                if j["phase"] == "measured"]),
        "session.get_spark_s": res["get_spark_s"],
        "session.worker_spawn_s": res["worker_spawn_s"],
        "plan.build_s": med(lambda j: j["layers"]["self_s"].get("plan", 0.0)),
        "plan.cell_size_s": cold.get("self_s", {}).get("cell_size", 0.0),
        "action.self_s":
            med(lambda j: j["layers"]["self_s"].get("action", 0.0)),
        "stage.task_skew": med(lambda j: j["layers"]["task_skew"]),
        "jvm.gc_s": med(lambda j: j["gc_s"]),
    }
    for key in ("scan.time_ms", "scan.bytes", "codegen.duration_ms",
                "exchange.shuffle_write_bytes", "exchange.records",
                "exchange.fetch_wait_ms", "python.eval_nodes",
                "python.start_ms", "python.init_ms", "python.run_ms",
                "python.bytes_sent", "python.bytes_returned", "python.rows",
                "write.bytes", "write.commit_ms"):
        out[key] = med(lambda j: j["layers"]["nodes"][key])
    out["bytes_written_per_row"] = out["write.bytes"] / rows

    def action(key):
        return med(lambda j: j["layers"]["action_nodes"][key])

    gen_rows = action("generate.output_rows")
    scan_rows = action("scan.rows")
    pairs = action("join.output_rows")
    matches = med(lambda j: (j["signature"] or {}).get(matches_key, 0)) \
        if matches_key else 0.0
    out["joins.cells_per_row"] = gen_rows / scan_rows if scan_rows else 0.0
    out["joins.candidate_pairs"] = pairs
    out["joins.matches"] = matches
    out["joins.refine_yield"] = matches / pairs if pairs else 0.0
    out.update(res["kernels"])
    t_traced = med(lambda j: j["wall_s"])
    out["trace.overhead_pct"] = (t_traced / job_s - 1.0) * 100.0 \
        if job_s else 0.0
    return out


def main(argv):
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "arctic_spark", "__init__.py")):
        print(f"perfbench: no arctic_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import gen
    import oracle

    work = os.path.join(ROOT, ".perfbench_work")
    input_dir = gen.ensure_inputs(args.workload, args.seed, args.size,
                                  os.path.join(work, "cache"))
    with open(os.path.join(input_dir, "meta.json")) as f:
        meta = json.load(f)

    res = _run_child(args, input_dir, work)

    failed = 0
    for j in res["jobs"]:
        bad = ["error"] if j["error"] else \
            oracle.mismatches(meta["expected"], j["signature"])
        if bad:
            failed += 1
            print(f"job {j['k']} mismatch on {bad}: "
                  f"{j['error'] or j['signature']}", file=sys.stderr)
    matches_key = {"pip_join": "matches", "overlay": "pieces"} \
        .get(args.workload)
    if args.trace:
        values, units = _per_layer(res, meta["rows"], matches_key), \
            PER_LAYER_UNITS
    else:
        values, units = _end_to_end(res), E2E_UNITS

    def walls(phase, key="wall_s"):
        return [round(j[key], 3) for j in res["jobs"]
                if j["phase"] == phase and not j["traced"]]

    print(f"perfbench {args.workload} seed={args.seed} rows={meta['rows']} "
          f"cpus={_cpus()} cold job {res['jobs'][0]['wall_s']:.3f} s, "
          f"warm-up jobs {walls('warmup')} s; untraced measured jobs "
          f"{walls('measured')} s, reference jobs after them "
          f"{walls('measured', 'ref_s')} s")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(res["jobs"]),
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
