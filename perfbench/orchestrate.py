"""The orchestrate_cli workload: the PowerSQL commands over a generated project.

A sequence is the ``runner`` calls the CLI's ``_dispatch`` makes:
``check``, ``run``, ``run --parallel``, ``test``, then an edit to one
seed-chosen base model and ``run --changed``. All of them run in one
process. The sources are generated first, outside set-up. Set-up
generates the project, builds a session, registers the sources and
runs one sequence cold: the fixed cost a CLI user pays before the
commands run at speed. The timed region repeats the sequence;
``pass_s`` is the median sequence.

Traced, the timed sequences are followed by one traced sequence, with
spans around the runner, executor and catalog calls; the tracing
overhead is its wall time minus the median untraced one.
"""

from __future__ import annotations

import contextlib
import io
import os
import statistics
import sys
import time

from spans import Tracer, driver_peak_rss_mb, spark_counters, stop_spark

import gen

SF = 0.1
MIN_SEQUENCES = 2


def run(seed: int, seconds: float, traced: bool, work: str, cores: int):
    from powersql_spark.catalog import load_tables
    from powersql_spark.orchestrator import runner
    from powersql_spark.orchestrator.executor import SparkExecutor
    from powersql_spark.session import build_session

    tr = Tracer()
    data = os.path.join(work, "data")
    project_dir = os.path.join(work, "project")
    gen.write_tables(data, seed, SF, cores)
    t0 = time.perf_counter()
    project = gen.write_project(project_dir, data, seed)
    with tr.span("session.build"):
        spark = build_session(
            app_name="perfbench-cli",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
    sc = tr.sc = spark.sparkContext
    try:
        sc.setLogLevel("ERROR")
        with tr.span("catalog.load_tables"):
            load_tables(spark, data)
        _, attempted, failed, _ = _sequence(runner, spark, project_dir, project, None)
        setup_s = time.perf_counter() - t0

        sequences: list[float] = []
        t_start = time.perf_counter()
        while len(sequences) < MIN_SEQUENCES or (
            time.perf_counter() - t_start + statistics.median(sequences) <= seconds
        ):
            walls, ops, bad, _ = _sequence(runner, spark, project_dir, project, None)
            sequences.append(sum(walls.values()))
            attempted, failed = attempted + ops, failed + bad
        pass_s = statistics.median(sequences)
        if not traced:
            return attempted, failed, {"setup_s": setup_s, "pass_s": pass_s}, {}
        targets = (
            (runner, "load_project", "orchestrator.load_project"),
            (runner, "load_tables", "catalog.load_tables"),
            (SparkExecutor, "execute", "executor.execute"),
            (SparkExecutor, "analyze", "executor.analyze"),
            (SparkExecutor, "query_bool", "executor.query_bool"),
        )
        with tr.wrapped(targets):
            walls, ops, bad, rebuilt = _sequence(runner, spark, project_dir, project, tr)
        attempted, failed = attempted + ops, failed + bad
        overhead = sum(walls.values()) - pass_s
        return attempted, failed, {}, _layers(tr, sc, walls, overhead, rebuilt)
    finally:
        stop_spark(spark)


def _sequence(runner, spark, project_dir, project, tr):
    """check, run, run --parallel, test, edit + run --changed, each timed
    and checked: check must type every model, each run must materialize
    every model (``--changed``: exactly the edited model's downstream
    closure) and every ASSERT must pass. With a tracer, each command runs
    in a span that records the Spark jobs it launched. Returns the wall
    times, the operations attempted and failed (one per command plus one
    per ASSERT) and how many models ``run --changed`` rebuilt."""
    calls = {
        "check": lambda: runner.check(spark, project_dir),
        "run": lambda: runner.run(spark, project_dir),
        "run_parallel": lambda: runner.run(spark, project_dir, parallel=True),
        "test": lambda: runner.test(spark, project_dir),
        "run_changed": lambda: runner.run(spark, project_dir, changed=True),
    }
    models = set(project.deps)
    walls: dict[str, float] = {}
    attempted = failed = rebuilt = 0
    for name, call in calls.items():
        if name == "run_changed":
            original = gen.edit_model(project_dir, project.edited)
        span = tr.span(f"runner.{name}", jobs=True) if tr else contextlib.nullcontext()
        out = io.StringIO()
        t0 = time.perf_counter()
        try:
            with span, contextlib.redirect_stdout(out):
                result = call()
        except Exception as e:  # a failing command counts, the run goes on
            print(f"{name}: {type(e).__name__}: {e}", file=sys.stderr)
            result = None
        walls[name] = time.perf_counter() - t0
        print(f"{name}: {walls[name]:.3f} s{' traced' if tr else ''}", file=sys.stderr)
        if name == "run_changed":
            gen.restore_model(project_dir, project.edited, original)
            rebuilt = len(result or ())
        if name == "test":
            passed = out.getvalue().count("...OK")
            attempted += 1 + len(models)
            failed += int(result != 0) + len(models) - passed
        else:
            want = project.changed if name == "run_changed" else models
            attempted += 1
            failed += int(result is None or set(result) != want)
    return walls, attempted, failed, rebuilt


def _layers(tr, sc, walls, overhead_s, rebuilt) -> dict[str, float]:
    execute = tr.durations("executor.execute")
    par = next(s for s in tr.spans if s.name == "runner.run_parallel")
    par_execute = sum(
        s.end - s.start for s in tr.spans
        if s.name == "executor.execute" and par.start <= s.start and s.end <= par.end
    )
    self_s = tr.self_times()
    layers = {
        "session.build_s": tr.total("session.build"),
        "catalog.load_tables_s": tr.durations("catalog.load_tables")[0],
        "orchestrator.load_project_s": max(tr.durations("orchestrator.load_project")),
        "executor.execute_s": sum(execute),
        "executor.execute_max_s": max(execute),
        "executor.analyze_s": tr.total("executor.analyze"),
        "executor.query_bool_s": tr.total("executor.query_bool"),
        "executor.models": float(len(execute)),
        "executor.tests": float(len(tr.durations("executor.query_bool"))),
        "runner.self_s": sum(v for k, v in self_s.items() if k.startswith("runner.")),
        "runner.parallelism": par_execute / walls["run_parallel"],
        "runner.changed_models": float(rebuilt),
        "trace.overhead_s": overhead_s,
    }
    for name, wall in walls.items():
        layers[f"runner.{name}_s"] = wall
    jobs = sorted(j for s in tr.spans if s.name.startswith("runner.") for j in s.jobs)
    layers.update(spark_counters(sc, jobs))
    layers["spark.driver_peak_rss_mb"] = driver_peak_rss_mb(sc)
    return layers
