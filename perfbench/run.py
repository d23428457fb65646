"""Benchmark of the ETL engine: one closed-loop client on local[nproc].

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload etl_load --seed 1 --seconds 3 --trace 0

Workloads (see ``workloads.py``):

- ``etl_load``: repeated truncate-and-loads of the reference DAG
  (``plans/etl_pipeline.py::build_pipeline``) over seeded sales /
  products / customers CSVs;
- ``bi_star``: the read-only ``bi_*``/``sql_*`` registry entries plus
  three OLAP entries over a seeded sf0.1 star schema;
- ``table_versions``: appends, merges, deletes and a periodic compaction
  of one versioned table, with latest, ``between=`` and ``version=``
  reads between the commits.

Each run makes its inputs from ``--seed`` under ``.perfbench_work/`` in
the checkout, starts Spark with host-fit settings (``SPARK_GRAFT_CPUS`` =
the CPUs this process may use, ``SPARK_DRIVER_MEMORY`` = 3g, local and
temporary directories inside the work directory), warms up while
checking the warm-up's outputs, then runs whole cycles of the
workload's ops until ``--seconds`` have passed, checking each op's output
outside its timing. The last line of standard
output is one JSON object: with ``--trace 0`` the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run (spans written
to ``.perfbench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"

# name -> unit; every workload reports every metric
END_TO_END = {"setup_s": "s", "op_gmean_s": "s", "ops_per_s": "1/s"}
LAYER_SPANS = (
    "plans.dag", "sources.readers", "operators.validation", "functions.country",
    "sources.sinks", "sources.versions", "queries", "exec",
)
SPARK_FIGURES = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "input_bytes", "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "job_wall_s",
)
VERSION_VERBS = ("append", "merge", "delete", "compact", "read")


def per_layer_units() -> dict[str, str]:
    units = {f"dag.task_s.{t}": "s/op" for t in ("load_env_vars", "validate_files", "load_data")}
    units |= {
        "dag.attempts": "count/op", "sinks.write_s": "s/op", "sinks.output_bytes": "B",
        "sinks.files": "count", "sinks.stored_bytes_per_csv_byte": "B/B",
        "validation.rows_in": "rows", "validation.rows_quarantined": "rows",
        "queries.build_s": "s/op", "queries.build_jobs": "count/op",
        "queries.exec_s": "s/op", "queries.exec_jobs": "count/op", "driver.only_s": "s/op",
        "driver.peak_rss_mb": "MB",
    }
    units |= {f"spark.{f}": ("s/op" if f.endswith("_s") else "B/op" if f.endswith("bytes")
                             else "count/op") for f in SPARK_FIGURES}
    units |= {f"versions.{v}_s": "s" for v in VERSION_VERBS}
    units |= {"versions.files_written": "count/op", "versions.bytes_written": "B/op",
              "versions.table_bytes_per_live_byte": "B/B"}
    units |= {f"self_s.{layer}": "s/op" for layer in LAYER_SPANS}
    units |= {"trace.op_gmean_s": "s", "trace.overhead_s": "s/op"}
    return units


def host_env(work: str) -> int:
    """Host-fit settings, in the environment before Spark starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the program from the checkout
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        # -UsePerfData: no hsperfdata file in the system's /tmp
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
        ),
    })
    return cpus


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    kids = [int(k) for k in fh.read().split()]
            except FileNotFoundError:
                continue
            out += kids
            todo += kids
    return out


def _status(pid: int, key: str) -> str | None:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except FileNotFoundError:
        return None
    return None


def peak_rss_mb() -> float:
    """VmHWM of this Python process plus the driver JVM."""
    pids = [os.getpid()] + [p for p in descendants(os.getpid()) if _status(p, "Name") == "java"]
    kb = sum(int(_status(p, "VmHWM").split()[0]) for p in pids)
    return kb / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    kids = descendants(os.getpid())
    gw = spark.sparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(
        _status(p, "State") not in (None, "Z (zombie)") for p in kids
    ):
        time.sleep(0.1)


def layer_metrics(tracer, wl, n_ops: int, op_walls: dict[str, list[float]]) -> dict[str, float]:
    s = tracer.summary()
    extras = dict(wl.ctx.extras)
    n = max(n_ops, 1)
    for k in ("versions.files_written", "versions.bytes_written"):
        if k in extras:
            extras[k] /= n
    mapped = {
        "dag.attempts": s.get("calls.plans.dag", 0.0),
        **{f"dag.task_s.{t}": s.get(f"dur_s.plans.dag.{t}", 0.0)
           for t in ("load_env_vars", "validate_files", "load_data")},
        "sinks.write_s": s.get("dur_s.sources.sinks.overwrite_parquet", 0.0),
        "queries.build_s": s.get("dur_s.queries.build", 0.0),
        "queries.build_jobs": s.get("jobs.queries.build", 0.0),
        "queries.exec_s": s.get("dur_s.exec.noop_write", 0.0),
        "queries.exec_jobs": s.get("jobs.exec.noop_write", 0.0),
        "driver.only_s": s.get("driver.only_s", 0.0),
        **{f"spark.{f}": s.get(f"spark.{f}", 0.0) for f in SPARK_FIGURES},
        **{f"self_s.{layer}": s.get(f"self_s.{layer}", 0.0) for layer in LAYER_SPANS},
        "trace.overhead_s": s.get("trace.overhead_s", 0.0),
    }
    reads = [w for k, ws in op_walls.items() if k.startswith("read") for w in ws]
    for verb in VERSION_VERBS:
        walls = reads if verb == "read" else op_walls.get(verb, [])
        mapped[f"versions.{verb}_s"] = statistics.median(walls) if walls else 0.0
    all_walls = [w for ws in op_walls.values() for w in ws]
    mapped["trace.op_gmean_s"] = statistics.geometric_mean(all_walls) if all_walls else 0.0
    mapped["driver.peak_rss_mb"] = peak_rss_mb()
    return {k: float(mapped.get(k, extras.get(k, 0.0))) for k in per_layer_units()}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds through the finally blocks that stop Spark and
    # remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the program under test; fails here outside a full checkout
    import etl_dag_spark.plans.etl_pipeline  # noqa: F401
    import etl_dag_spark.queries  # noqa: F401
    import etl_dag_spark.sources.versions  # noqa: F401

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str) -> int:
    from etl_dag_spark.session import get_spark, quiet_benign_logs
    from spans import Tracer
    from workloads import WORKLOADS, Context

    cpus = host_env(work)
    t_setup = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}", cpus=cpus)
    try:
        spark.sparkContext.setLogLevel("ERROR")
        quiet_benign_logs(spark)
        tracer = Tracer(spark.sparkContext, args.workload, enabled=False)
        ctx = Context(spark, tracer, work, args.seed)
        wl = WORKLOADS[args.workload](ctx)
        t_session = time.perf_counter() - t_setup
        untimed = wl.setup()
        t_inputs = time.perf_counter() - t_setup - t_session - untimed
        attempted = failed = 0
        for op in wl.warmup():
            attempted += 1
            try:
                out = op.run()
            except Exception:  # counted as failed, like a timed op that raises
                failed += 1
                traceback.print_exc()
                continue
            t0 = time.perf_counter()
            err = op.check(out)
            untimed += time.perf_counter() - t0
            if err:
                failed += 1
                print(f"warm-up {op.name}: {err}", file=sys.stderr)
        setup_s = time.perf_counter() - t_setup - untimed
        print(f"setup {setup_s:.2f} s: session {t_session:.2f} s, inputs {t_inputs:.2f} s, "
              f"warm-up {setup_s - t_session - t_inputs:.2f} s; untimed checks {untimed:.2f} s",
              file=sys.stderr)

        if args.trace:
            tracer.enabled = True
            tracer.skip_jobs()
            wl.trace(tracer)
        ctx.extras.clear()
        walls: dict[str, list[float]] = {}
        start = time.perf_counter()
        for i, op in enumerate(wl.ops()):
            # whole cycles only, so every run times the same mix of ops
            if i % wl.CYCLE_OPS == 0 and time.perf_counter() - start >= args.seconds:
                break
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.op(op.name):
                    out = op.run()
            except Exception:  # an op that raises counts as failed; the loop goes on
                failed += 1
                traceback.print_exc()
                continue
            wall = time.perf_counter() - t0
            err = op.check(out)
            if err:
                failed += 1
                print(f"{op.name}: {err}", file=sys.stderr)
                continue
            walls.setdefault(op.name, []).append(wall)
        tracer.harvest(wait_s=5.0)
        tracer.unwrap_all()
        if hasattr(wl, "finish"):
            wl.finish()
        all_walls = [w for ws in walls.values() for w in ws]
        if not all_walls:
            raise RuntimeError("no op completed in the measured window")

        if args.trace:
            n_ops = sum(len(ws) for ws in walls.values())
            values = layer_metrics(tracer, wl, n_ops, walls)
            units = per_layer_units()
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(tracer.dump(), fh)
        else:
            values = {
                "setup_s": setup_s,
                "op_gmean_s": statistics.geometric_mean(all_walls),
                "ops_per_s": len(all_walls) / sum(all_walls),
            }
            units = END_TO_END
    finally:
        stop_spark(spark)

    for name, v in values.items():
        print(f"{args.workload:>15} {name:<40} {v:>16.6g} {units[name]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main(sys.argv[1:]))
