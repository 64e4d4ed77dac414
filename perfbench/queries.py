"""The queries_driver workload: registry keys over generated tables, noop sink.

The tables are generated first, one file per core. Set-up builds the
session and registers the tables. Every key then runs once through
``tools/drive_contract``'s ``compare_keys`` against its DuckDB oracle:
the correctness gate, which is not part of set-up. A warm pass follows;
``setup_s`` is the session build, the registration and that pass, and
leaves out the generation and the gate, which are the benchmark's own
work. More untimed passes follow while the JVM is still compiling hot
code. The timed region then runs passes over the keys, in an order the
seed permutes, each key's result going to a noop sink, with persisted
intermediates released after every key.
"""

from __future__ import annotations

import contextlib
import os
import random
import statistics
import sys
import time

from spans import Tracer, driver_peak_rss_mb, spark_counters, stop_spark

import gen

# Keys whose plan build is a large share of their wall time or that
# launch many jobs: the Python operator call and per-job overhead.
DRIVER_KEYS = (
    "graph_betweenness",
    "graph_pagerank",
    "sketch_bloom_prefilter",
)

SF = 0.1
MIN_PASSES = 3
# Untimed passes after the gate, the first of them part of set-up: pass
# times keep falling over the first few passes while the JVM compiles.
WARM_PASSES = 3


def run(keys, seed: int, seconds: float, traced: bool, work: str, cores: int):
    from powersql_spark.catalog import load_tables, release_persisted
    from powersql_spark.registry import all_specs
    from powersql_spark.session import build_session

    tr = Tracer()
    data = os.path.join(work, "data")
    gen.write_tables(data, seed, SF, cores)
    t0 = time.perf_counter()
    with tr.span("session.build"):
        spark = build_session(
            app_name="perfbench",
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
        startup_s = time.perf_counter() - t0
        specs = all_specs()
        order = list(keys)
        random.Random(seed).shuffle(order)
        bad = _gate(spark, specs, order, data)

        per_key: dict[str, list] = {}
        errors = attempted = 0

        def one_pass(trace_this: bool) -> float:
            nonlocal errors, attempted
            p0 = time.perf_counter()
            for key in order:
                attempted += 1
                try:
                    if trace_this:
                        _traced_query(tr, spark, specs[key].fn, data, key, per_key)
                    else:
                        specs[key].fn(spark, data).write.mode("overwrite").format("noop").save()
                except Exception as e:  # a failing query counts, the run goes on
                    print(f"{key}: {type(e).__name__}: {e}", file=sys.stderr)
                    errors += 1
                release_persisted(spark)
            took = time.perf_counter() - p0
            print(f"pass: {took:.3f} s{' traced' if trace_this else ''}", file=sys.stderr)
            return took

        setup_s = startup_s + one_pass(False)
        for _ in range(WARM_PASSES - 1):
            one_pass(False)

        passes: list[float] = []
        traced_passes: list[float] = []
        t_start = time.perf_counter()
        # Passes run while another one fits in the time left.
        while len(passes) < MIN_PASSES or (
            time.perf_counter() - t_start + statistics.median(passes) <= seconds
        ):
            # A traced run alternates untraced and traced passes, so the
            # tracing overhead is measured in one session.
            if traced and len(traced_passes) < len(passes):
                traced_passes.append(one_pass(True))
            else:
                passes.append(one_pass(False))

        attempted += len(order)
        failed = errors + len(bad)
        e2e = {"setup_s": setup_s, "pass_s": statistics.median(passes)}
        layers = {}
        if traced:
            layers = _layers(sc, per_key, keys, passes, traced_passes)
            layers["session.build_s"] = tr.total("session.build")
            layers["catalog.load_tables_s"] = tr.total("catalog.load_tables")
            layers["spark.driver_peak_rss_mb"] = driver_peak_rss_mb(sc)
        return attempted, failed, e2e, layers
    finally:
        stop_spark(spark)


def _gate(spark, specs, order, data) -> list[str]:
    """Hash-compare every key with its DuckDB oracle; returns the keys
    that failed. The repository's drive compares at the directory named
    by its module-level ``SF_DIR``, so that is pointed at the generated
    tables."""
    import duckdb
    import drive_contract as dc

    dc.SF_DIR = data
    con = duckdb.connect()
    try:
        for t in dc.TABLES:
            path = os.path.join(data, f"{t}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        with contextlib.redirect_stdout(sys.stderr):
            return dc.compare_keys(
                spark,
                con,
                {k: specs[k].fn for k in order},
                {k: specs[k].oracle for k in order if specs[k].oracle},
            )
    finally:
        con.close()


def _traced_query(tr, spark, fn, data, key, per_key) -> None:
    with tr.span("query", jobs=True) as q:
        with tr.span("operators.build", jobs=True) as b:
            df = fn(spark, data)
        with tr.span("spark.catalyst") as c:
            df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec") as x:
            df.write.mode("overwrite").format("noop").save()
    per_key.setdefault(key, []).append((q, b, c, x))


def _layers(sc, per_key, keys, passes, traced_passes) -> dict[str, float]:
    """Per-layer metrics of a traced pass. Times are sums over the keys
    of each key's median across the traced passes; Spark counters are
    those of the last traced pass."""
    med = statistics.median

    def per(i: int) -> dict[str, float]:
        return {k: med(v[i].end - v[i].start for v in spans) for k, spans in per_key.items()}

    build, catalyst, execs = per(1), per(2), per(3)
    last = [spans[-1] for spans in per_key.values()]
    out = spark_counters(sc, sorted(j for q, *_ in last for j in q.jobs))
    out.update({
        "operators.build_s": sum(build.values()),
        "operators.build_jobs": float(sum(len(b.jobs) for _, b, _, _ in last)),
        "spark.catalyst_s": sum(catalyst.values()),
        "spark.exec_s": sum(execs.values()),
        "trace.overhead_s": med(traced_passes) - med(passes),
    })
    for k in keys:
        out[f"operators.build_s.{k}"] = build.get(k, 0.0)
        out[f"spark.jobs.{k}"] = float(len(per_key[k][-1][0].jobs)) if k in per_key else 0.0
    return out
