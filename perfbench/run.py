"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload queries_driver --seed 1 --seconds 15 --trace 0

Generates its inputs from ``--seed`` under ``.perfbench/`` in the
repository root, runs the workload, checks the program's outputs and
prints one JSON object as the last line of standard output:
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones. A line before it records the environment.

Metric names and units come from ``BENCHMARK.json``; what each
per-layer metric should move is in ``perfbench/README.md``.
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
WORKLOADS = ("queries_driver", "orchestrate_cli")
QUERIES = WORKLOADS[:1]
CLI = WORKLOADS[1:]


def _measured_on() -> dict[str, tuple[str, ...]]:
    """Each per-layer metric and the workloads that measure it. On the
    other workloads it reads 0: they bypass its layer."""
    from queries import DRIVER_KEYS

    groups = (
        (WORKLOADS, (
            "session.build_s", "catalog.load_tables_s", "spark.jobs", "spark.stages",
            "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
            "spark.cpu_ratio", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
            "spark.spill_mb", "spark.peak_exec_mem_mb", "spark.max_task_s",
            "spark.output_mb", "spark.driver_peak_rss_mb", "trace.overhead_s",
        )),
        (CLI, (
            "orchestrator.load_project_s", "executor.execute_s", "executor.execute_max_s",
            "executor.analyze_s", "executor.query_bool_s", "executor.models",
            "executor.tests", "runner.self_s", "runner.parallelism",
            "runner.changed_models", "runner.check_s", "runner.run_s",
            "runner.run_parallel_s", "runner.test_s", "runner.run_changed_s",
        )),
        (QUERIES, ("operators.build_s", "operators.build_jobs", "spark.exec_s", "spark.catalyst_s")),
        (("queries_driver",), [f"operators.build_s.{k}" for k in DRIVER_KEYS]
            + [f"spark.jobs.{k}" for k in DRIVER_KEYS]),
    )
    return {name: on for on, names in groups for name in names}


def _load_spec() -> dict:
    """BENCHMARK.json, the one list of metric names, units and bounds.
    Fails before running if it names other workloads or per-layer
    metrics than this benchmark measures."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if (
        [w["name"] for w in spec["workloads"]] != list(WORKLOADS)
        or {m["name"] for m in spec["per_layer"]} != set(_measured_on())
    ):
        raise SystemExit("BENCHMARK.json does not match perfbench/run.py")
    return spec


def _snapshot(root: str) -> dict[str, tuple[int, int]]:
    """Size and mtime of every file in the checkout outside the
    benchmark's work directory and bytecode caches."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in (".perfbench", "__pycache__", ".git")]
        for f in filenames:
            p = os.path.join(dirpath, f)
            st = os.lstat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _load_spec()

    from spans import cpu_count

    cores = cpu_count()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Everything Spark, the JVM and Python write goes under the work dir.
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    before = _snapshot(ROOT)
    load = os.getloadavg()[0]
    t0 = time.perf_counter()
    try:
        import pyspark

        from powersql_spark.session import _local_dirs

        env = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "spark_local_dir": _local_dirs(None),
            "pyspark": pyspark.__version__, "python": platform.python_version(),
            "loadavg_1m": load,
        }
        if args.workload in QUERIES:
            import queries

            attempted, failed, e2e, layers = queries.run(
                queries.DRIVER_KEYS, args.seed, args.seconds, bool(args.trace), work, cores
            )
        else:
            import orchestrate

            attempted, failed, e2e, layers = orchestrate.run(
                args.seed, args.seconds, bool(args.trace), work, cores
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with_parent = os.path.dirname(work)
        if not os.listdir(with_parent):
            os.rmdir(with_parent)

    # Hermetic: the run left the checkout as it found it.
    attempted += 1
    failed += int(_snapshot(ROOT) != before)
    env["wall_s"] = time.perf_counter() - t0
    print(json.dumps({"env": env}))

    if args.trace:
        on = _measured_on()
        metrics = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if args.workload in on[name] and name not in layers:
                raise SystemExit(f"{args.workload} did not measure {name}")
            metrics[name] = {"value": layers.get(name, 0.0), "unit": m["unit"]}
    else:
        e2e["ok_ratio"] = (attempted - failed) / attempted
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
