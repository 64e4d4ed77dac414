"""Orchestrator unit + integration tests.

Unit layer mirrors the reference's in-module tests (src/main.rs:463-548:
dependency extraction, cycle detection, graph building; src/types.rs:
230-354: model typing — here via Spark lazy analysis). Integration layer
mirrors the reference's PostgreSQL CI (.github/workflows/postgres.yml:
33-39): check, run, run again (idempotence), test, docs on the example
project.
"""

from __future__ import annotations

import shutil

import pytest

from powersql_spark.orchestrator.dag import (
    ModelNode,
    build_graph,
    detect_cycles,
    get_dependencies,
)
from powersql_spark.orchestrator.sqlparse import (
    extract_refs,
    parse_model_file,
    parse_model_statement,
    parse_test_file,
    split_statements,
)

# ---------- parsing ----------


def test_parse_view():
    m = parse_model_statement("CREATE VIEW x AS SELECT a FROM y")
    assert m.name == "x" and m.kind == "view" and m.query == "SELECT a FROM y"


def test_parse_materialized_view():
    m = parse_model_statement("CREATE MATERIALIZED VIEW x AS SELECT 1 AS a")
    assert m.kind == "materialized_view"


def test_parse_table_as():
    m = parse_model_statement("CREATE TABLE t AS SELECT a FROM y")
    assert m.name == "t" and m.kind == "table"


def test_parse_rejects_other_statements():
    # Reference: unimplemented!("Only (materialized) view and create
    # table as supported") (src/main.rs:159).
    with pytest.raises(ValueError, match="Only .*view"):
        parse_model_statement("INSERT INTO x VALUES (1)")


def test_split_statements_preserves_operators():
    stmts = split_statements("CREATE VIEW a AS SELECT 1 >= 0 AS b; -- c\n")
    assert stmts == ["CREATE VIEW a AS SELECT 1 >= 0 AS b"]


def test_parse_test_file():
    tests = parse_test_file(
        "ASSERT NOT EXISTS (SELECT 1 FROM t WHERE x < 0) AS 'no negatives';\n"
        "ASSERT (SELECT COUNT(*) FROM t) >= 10 AS 'enough rows';"
    )
    assert [t.message for t in tests] == ["no negatives", "enough rows"]
    assert tests[0].condition.startswith("NOT EXISTS")


def test_parse_test_rejects_other():
    with pytest.raises(ValueError, match="Only assert"):
        parse_test_file("SELECT 1")


# ---------- ref extraction (reference src/main.rs:463-487) ----------


def test_dependencies():
    # Mirrors test_dependencies (src/main.rs:463-471).
    models = parse_model_file("CREATE VIEW z AS SELECT a FROM x")
    assert extract_refs(models["z"].query) == ["x"]


def test_dependencies_join():
    # Mirrors test_dependencies_join (src/main.rs:473-487): y join x.
    refs = extract_refs("SELECT a FROM y JOIN x ON 1 = 1")
    assert sorted(refs) == ["x", "y"]


def test_refs_cte_excluded():
    refs = extract_refs(
        "WITH c AS (SELECT * FROM base) SELECT * FROM c JOIN other ON 1=1"
    )
    assert sorted(refs) == ["base", "other"]


def test_refs_subquery_in_where():
    refs = extract_refs(
        "SELECT a FROM t WHERE a IN (SELECT b FROM u) AND EXISTS (SELECT 1 FROM v)"
    )
    assert sorted(refs) == ["t", "u", "v"]


def test_refs_derived_table():
    refs = extract_refs("SELECT * FROM (SELECT a FROM inner_t) AS d")
    assert refs == ["inner_t"]


def test_refs_nested_join():
    refs = extract_refs("SELECT * FROM (a JOIN b ON a.x = b.x) JOIN c ON 1=1")
    assert sorted(refs) == ["a", "b", "c"]


def test_refs_comma_from_list():
    refs = extract_refs("SELECT * FROM a, b WHERE a.x = b.x")
    assert sorted(refs) == ["a", "b"]


def test_refs_extract_not_a_table():
    refs = extract_refs("SELECT EXTRACT(YEAR FROM ts) FROM evts")
    assert refs == ["evts"]


def test_refs_dotted_and_quoted():
    refs = extract_refs('SELECT * FROM sch.tab JOIN "Weird Name" ON 1=1')
    assert refs == ["sch.tab", "Weird Name"]


# ---------- DAG (reference src/main.rs:489-548) ----------


def test_cycle_detected():
    # Mirrors the 2-cycle error test (src/main.rs:489-498).
    with pytest.raises(ValueError, match="Cycle"):
        detect_cycles({"x": ["y"], "y": ["x"]})


def test_missing_model_error():
    # Mirrors the missing-model error test (src/main.rs:500-509).
    with pytest.raises(ValueError, match="Model y not found"):
        detect_cycles({"x": ["y"]})


def test_dag_ok():
    # Mirrors the ok-on-DAG test (src/main.rs:511-520).
    detect_cycles({"x": ["y"], "y": []})


def test_build_graph():
    # Mirrors test_build_graph in-degrees/adjacency (src/main.rs:522-548).
    graph = build_graph({"x": ["y"], "y": []})
    assert graph["x"] == ModelNode(live_parents=1, next_nodes=[])
    assert graph["y"] == ModelNode(live_parents=0, next_nodes=["x"])


def test_external_sources_filtered():
    models = parse_model_file(
        "CREATE VIEW a AS SELECT * FROM ext_source;"
        "CREATE VIEW b AS SELECT * FROM a"
    )
    deps = get_dependencies(models)
    assert deps == {"a": [], "b": ["a"]}


# ---------- integration (reference postgres.yml:33-39) ----------

PROJECT = "examples/project"
SOURCES = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def clean_target():
    yield
    shutil.rmtree(f"{PROJECT}/target", ignore_errors=True)
    shutil.rmtree(f"{PROJECT}/docs", ignore_errors=True)


def test_check_command(spark):
    from powersql_spark.orchestrator.runner import check

    schemas = check(spark, PROJECT, sources=SOURCES)
    assert set(schemas) == {"revenue", "rev_per_product", "top_products"}
    assert "product_id" in schemas["rev_per_product"]


def test_check_rejects_bad_model(spark, tmp_path):
    from powersql_spark.orchestrator.runner import check

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "bad"\nmodels = ["models"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE VIEW broken AS SELECT nonexistent_col FROM lineitem"
    )
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        check(spark, tmp_path, sources=SOURCES)


def _write_data_free_project(tmp_path, model_sql):
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "nodata"\nmodels = ["models"]\n'
        'sources = "missing_dir"\nsources_schema = "schema.json"\n'
    )
    (tmp_path / "schema.json").write_text(
        '{"lineitem": "l_partkey BIGINT, l_extendedprice DOUBLE,'
        ' l_discount DOUBLE"}'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(model_sql)


def test_check_data_free_with_schema_manifest(spark, tmp_path):
    """`check` with NO source data present: the schema manifest registers
    empty typed relations, restoring the reference's data-free static
    type-check (src/types.rs:47-221 needs no warehouse connection)."""
    from powersql_spark.orchestrator.runner import check

    _write_data_free_project(
        tmp_path,
        "CREATE VIEW revenue AS SELECT l_partkey AS product_id,"
        " l_extendedprice * (1 - l_discount) AS euro FROM lineitem;\n"
        "CREATE VIEW rev_per_product AS SELECT product_id,"
        " SUM(euro) AS rev FROM revenue GROUP BY product_id",
    )
    schemas = check(spark, tmp_path)
    assert set(schemas) == {"revenue", "rev_per_product"}
    assert "product_id" in schemas["rev_per_product"]
    spark.catalog.dropTempView("lineitem")


def test_check_data_free_still_catches_type_errors(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from powersql_spark.orchestrator.runner import check

    _write_data_free_project(
        tmp_path,
        "CREATE VIEW broken AS SELECT no_such_col FROM lineitem",
    )
    with pytest.raises(AnalysisException):
        check(spark, tmp_path)
    spark.catalog.dropTempView("lineitem")


def test_run_twice_idempotent_and_test_pass(spark, capsys):
    from powersql_spark.orchestrator.runner import run, test as run_tests

    order = run(spark, PROJECT, sources=SOURCES)
    assert order.index("revenue") < order.index("rev_per_product")
    first = {r["product_id"]: r["rev"] for r in spark.table("rev_per_product").collect()}
    # Idempotence: run twice, same result (reference CI runs `run` twice,
    # .github/workflows/postgres.yml:38-39).
    order2 = run(spark, PROJECT, sources=SOURCES)
    assert order2 == order
    second = {r["product_id"]: r["rev"] for r in spark.table("rev_per_product").collect()}
    assert first == second
    assert spark.table("top_products").count() == 100

    rc = run_tests(spark, PROJECT, sources=SOURCES)
    out = capsys.readouterr().out
    assert rc == 0
    assert out.count("...OK") == 6


def test_run_selected_model_and_closure(spark):
    """--model selection: materialize one model plus its upstream
    closure only (dbt-style subgraph rebuild)."""
    from powersql_spark.orchestrator.runner import run

    order = run(spark, PROJECT, sources=SOURCES, model="rev_per_product")
    assert order == ["revenue", "rev_per_product"]  # top_products excluded
    assert spark.table("rev_per_product").count() > 0

    with pytest.raises(ValueError, match="Model nope not found"):
        run(spark, PROJECT, sources=SOURCES, model="nope")


def test_run_parallel_wide_dag(spark, tmp_path):
    """Diamond DAG (4 independent mid-layer models + a union sink):
    parallel run must respect dependencies and match serial results."""
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "wide"\nmodels = ["models"]\n'
    )
    mdir = tmp_path / "models"
    mdir.mkdir()
    mids = []
    for seg in ("BUILDING", "MACHINERY", "AUTOMOBILE", "HOUSEHOLD"):
        name = f"seg_{seg.lower()}"
        mids.append(name)
        (mdir / f"{name}.sql").write_text(
            f"CREATE VIEW {name} AS "
            f"SELECT c_custkey, c_acctbal FROM base_customers "
            f"WHERE c_mktsegment = '{seg}'"
        )
    (mdir / "base.sql").write_text(
        "CREATE VIEW base_customers AS "
        "SELECT c_custkey, c_acctbal, c_mktsegment FROM customer"
    )
    union_sql = " UNION ALL ".join(f"SELECT * FROM {m}" for m in mids)
    (mdir / "all_segs.sql").write_text(
        f"CREATE TABLE all_segs AS {union_sql}"
    )
    from powersql_spark.orchestrator.runner import run

    serial = run(spark, tmp_path, sources=SOURCES)
    n_serial = spark.table("all_segs").count()
    done = run(spark, tmp_path, sources=SOURCES, parallel=True)
    assert set(done) == set(serial) == {"base_customers", "all_segs", *mids}
    assert done.index("base_customers") == 0
    assert done.index("all_segs") == len(done) - 1
    assert spark.table("all_segs").count() == n_serial > 0


def test_explain_command(spark):
    """explain: formatted plan per model, analysis only, closure-aware.
    Column pruning must reach the scan (the revenue model reads 3 of
    lineitem's 11 columns)."""
    from powersql_spark.orchestrator.runner import explain

    plans = explain(spark, PROJECT, sources=SOURCES, model="rev_per_product")
    assert set(plans) == {"revenue", "rev_per_product"}
    assert "Scan parquet" in plans["revenue"]
    assert "ReadSchema: struct<l_partkey:bigint" in plans["revenue"]
    assert "HashAggregate" in plans["rev_per_product"]


def test_run_parallel_matches_serial(spark):
    from powersql_spark.orchestrator.runner import run

    done = run(spark, PROJECT, sources=SOURCES, parallel=True)
    assert set(done) == {"revenue", "rev_per_product", "top_products"}
    assert done.index("revenue") < done.index("rev_per_product")
    assert spark.table("top_products").count() == 100


def test_failing_assert_and_fail_fast(spark, tmp_path, capsys):
    from powersql_spark.orchestrator.runner import test as run_tests

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "failing"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE VIEW all_items AS SELECT * FROM lineitem"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.sql").write_text(
        "ASSERT (SELECT COUNT(*) FROM lineitem) < 0 AS 'impossible';\n"
        "ASSERT (SELECT COUNT(*) FROM lineitem) > 0 AS 'has rows';"
    )
    rc = run_tests(spark, tmp_path, sources=SOURCES)
    out = capsys.readouterr().out
    assert rc == 1
    assert "impossible...ERROR" in out and "has rows...OK" in out

    rc = run_tests(spark, tmp_path, sources=SOURCES, fail_fast=True)
    out = capsys.readouterr().out
    assert rc == 1
    assert "has rows" not in out  # stopped at first failure


def test_pipeline_example_project(spark, capsys):
    """The second example project (examples/pipeline): the LLM
    training-data funnel expressed as orchestrated models over the
    documents source, with 4 ASSERT data tests."""
    import shutil

    from powersql_spark.orchestrator.runner import run, test as run_tests

    try:
        order = run(spark, "examples/pipeline")
        assert order == ["scored_docs", "kept_docs", "doc_chunks"]
        assert spark.table("doc_chunks").count() > 0
        rc = run_tests(spark, "examples/pipeline")
        out = capsys.readouterr().out
        assert rc == 0
        assert out.count("...OK") == 4
    finally:
        shutil.rmtree("examples/pipeline/target", ignore_errors=True)


def test_docs_command(tmp_path):
    from powersql_spark.orchestrator.runner import docs

    path = docs(PROJECT)
    content = path.read_text()
    assert "revenue --> rev_per_product" in content
    assert "## top_products" in content


def test_check_rejects_non_boolean_test_condition(spark, tmp_path):
    from powersql_spark.orchestrator.runner import check

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "badtest"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE VIEW v AS SELECT l_orderkey FROM lineitem"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.sql").write_text(
        "ASSERT (SELECT COUNT(*) FROM lineitem) AS 'not a boolean'"
    )
    with pytest.raises(TypeError, match="boolean"):
        check(spark, tmp_path, sources=SOURCES)


# ---------- incremental runs (run --changed) ----------


def _write_chain_project(tmp_path):
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "inc"\nmodels = ["models"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "base.sql").write_text(
        "CREATE VIEW base AS SELECT n_nationkey AS k, n_name AS v"
        " FROM nation"
    )
    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE VIEW mid AS SELECT k, v FROM base WHERE k < 10"
    )
    (tmp_path / "models" / "leaf.sql").write_text(
        "CREATE VIEW leaf AS SELECT COUNT(*) AS n FROM mid"
    )
    (tmp_path / "models" / "other.sql").write_text(
        "CREATE VIEW other AS SELECT k FROM base WHERE k >= 10"
    )


def test_run_changed_selects_dirty_downstream_only(spark, tmp_path):
    """First run materializes everything and writes the manifest; an
    unchanged re-run with --changed selects nothing; editing `mid`
    re-runs mid + leaf (its consumer) but NOT base or other."""
    from powersql_spark.orchestrator.runner import run

    _write_chain_project(tmp_path)
    first = run(spark, tmp_path, sources=SOURCES)
    assert set(first) == {"base", "mid", "leaf", "other"}
    assert (tmp_path / "target" / "manifest.json").exists()

    again = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert again == []

    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE VIEW mid AS SELECT k, v FROM base WHERE k < 5"
    )
    inc = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert set(inc) == {"mid", "leaf"}
    # the edit took effect through the restored upstream view
    assert spark.table("leaf").collect()[0]["n"] == 5

    # manifest updated: a further --changed run selects nothing
    assert run(spark, tmp_path, sources=SOURCES, changed=True) == []


def test_run_changed_parallel_prunes_out_of_selection_parents(
    spark, tmp_path
):
    """--changed + --parallel: the Kahn subgraph must prune edges to
    unchanged parents that were restored (not scheduled), else
    build_graph KeyErrors on the missing node. Editing `mid` selects
    {mid, leaf}; mid's parent `base` is outside the selection."""
    from powersql_spark.orchestrator.runner import run

    _write_chain_project(tmp_path)
    run(spark, tmp_path, sources=SOURCES)
    (tmp_path / "models" / "mid.sql").write_text(
        "CREATE VIEW mid AS SELECT k, v FROM base WHERE k < 3"
    )
    inc = run(spark, tmp_path, sources=SOURCES, changed=True, parallel=True)
    assert set(inc) == {"mid", "leaf"}
    assert spark.table("leaf").collect()[0]["n"] == 3
    # manifest banked: nothing further to do, serial or parallel
    assert run(spark, tmp_path, sources=SOURCES, changed=True, parallel=True) == []


def test_run_changed_restores_only_ancestors_of_selection(spark, tmp_path):
    """The restore loop touches only the selected subgraph's upstream
    closure: editing `leaf` (reads mid -> base) must not re-register
    `other`, which no selected model reads."""
    from powersql_spark.orchestrator.runner import run

    _write_chain_project(tmp_path)
    run(spark, tmp_path, sources=SOURCES)
    (tmp_path / "models" / "leaf.sql").write_text(
        "CREATE VIEW leaf AS SELECT COUNT(*) + 0 AS n FROM mid"
    )
    spark.catalog.dropTempView("other")
    inc = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert inc == ["leaf"]
    # ancestors restored, sibling untouched
    assert spark.table("leaf").collect()[0]["n"] == 10
    assert not spark.catalog.tableExists("other")


def test_run_changed_new_model_runs_and_banks(spark, tmp_path):
    """A model added after the last run counts as changed; removing it
    drops its manifest entry on the next run."""
    from powersql_spark.orchestrator.runner import (
        _load_manifest,
        run,
    )

    _write_chain_project(tmp_path)
    run(spark, tmp_path, sources=SOURCES)
    (tmp_path / "models" / "extra.sql").write_text(
        "CREATE VIEW extra AS SELECT COUNT(*) AS n FROM other"
    )
    inc = run(spark, tmp_path, sources=SOURCES, changed=True)
    assert inc == ["extra"]
    assert "extra" in _load_manifest(tmp_path)
    (tmp_path / "models" / "extra.sql").unlink()
    run(spark, tmp_path, sources=SOURCES)
    assert "extra" not in _load_manifest(tmp_path)


def test_wide_example_runs_parallel_and_serial(spark):
    """The examples/wide DAG (orchestrator bench fixture: 8 independent
    table models + fan-in summary) must produce identical results in
    both modes."""
    import os

    from powersql_spark.orchestrator.runner import run

    project = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "examples",
        "wide",
    )
    serial = run(spark, project)
    n_serial = spark.table("summary").collect()[0]
    parallel = run(spark, project, parallel=True)
    n_parallel = spark.table("summary").collect()[0]
    assert sorted(serial) == sorted(parallel)
    assert len(serial) == 9
    assert serial[-1] == "summary" == parallel[-1]
    assert n_serial == n_parallel


# ---------- concurrent ASSERTs, restores and TABLE read-back ----------


def _write_test_project(tmp_path, asserts):
    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "asserts"\nmodels = ["models"]\ntests = ["tests"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE VIEW items AS SELECT l_orderkey, l_quantity FROM lineitem;\n"
        "CREATE TABLE items_t AS SELECT l_orderkey, l_quantity FROM items"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "t.sql").write_text(
        "\n".join(f"ASSERT {cond} AS '{msg}';" for msg, cond in asserts)
    )


def test_assert_output_keeps_declaration_order(spark, tmp_path, capsys):
    """ASSERTs run concurrently, but their lines print in declaration
    order. The declared order is a shuffle mixing slow and fast queries
    and passing and failing ones, so completion order differs from it."""
    import random

    from powersql_spark.orchestrator.runner import test as run_tests

    asserts = []
    for k in range(12):
        if k % 3 == 0:  # slow: a join over lineitem
            cond = (
                f"(SELECT COUNT(*) FROM items a JOIN items_t b"
                f" ON a.l_orderkey = b.l_orderkey) {'>=' if k % 2 else '<'} 0"
            )
        else:
            cond = f"{k} {'>' if k % 4 else '<'} 0"
        asserts.append((f"t{k}", cond))
    random.Random(7).shuffle(asserts)
    _write_test_project(tmp_path, asserts)

    rc = run_tests(spark, tmp_path, sources=SOURCES)
    lines = capsys.readouterr().out.splitlines()
    expected = [
        f"{msg}...{'OK' if spark.sql(f'SELECT {cond}').first()[0] else 'ERROR'}"
        for msg, cond in asserts
    ]
    assert lines == expected
    assert any(x.endswith("OK") for x in lines)
    assert rc == 1 and any(x.endswith("ERROR") for x in lines)


def test_assert_sql_error_reported_not_raised(spark, tmp_path, capsys):
    """An ASSERT whose SQL fails, at analysis (an unknown column) or in a
    task (assert_true), prints ERROR with its first error line on stderr;
    every other test still reports, and the exit code is 1. Under
    fail_fast the output stops at the first of them."""
    from powersql_spark.orchestrator.runner import test as run_tests

    _write_test_project(
        tmp_path,
        [
            ("first ok", "(SELECT COUNT(*) FROM items_t) > 0"),
            ("bad sql", "(SELECT MAX(no_such_col) FROM items) > 0"),
            ("task fails", "(SELECT COUNT(assert_true(l_quantity < 0)) FROM items) > 0"),
            ("last ok", "(SELECT COUNT(*) FROM items) > 0"),
        ],
    )
    rc = run_tests(spark, tmp_path, sources=SOURCES)
    captured = capsys.readouterr()
    assert rc == 1
    assert captured.out.splitlines() == [
        "first ok...OK",
        "bad sql...ERROR",
        "task fails...ERROR",
        "last ok...OK",
    ]
    err = [x for x in captured.err.splitlines() if x.startswith("error: ")]
    assert len(err) == 2
    assert "bad sql" in err[0] and "no_such_col" in err[0]
    assert "task fails" in err[1]

    rc = run_tests(spark, tmp_path, sources=SOURCES, fail_fast=True)
    assert rc == 1
    assert capsys.readouterr().out.splitlines() == ["first ok...OK", "bad sql...ERROR"]


def test_table_read_back_schema_matches_inferred(spark, tmp_path):
    """A TABLE model is re-registered over its parquet target with the
    schema it was written with, not an inferred one; that schema must be
    exactly what parquet inference gives for the written files."""
    from powersql_spark.orchestrator.runner import run

    (tmp_path / "powersql.toml").write_text(
        '[project]\nname = "types"\nmodels = ["models"]\n'
    )
    (tmp_path / "models").mkdir()
    (tmp_path / "models" / "m.sql").write_text(
        "CREATE TABLE typed AS SELECT"
        " CAST(l_extendedprice AS DECIMAL(12, 2)) AS dec,"
        " l_orderkey AS k,"
        " 1 AS non_null_int,"
        " DATE'2024-01-02' AS d,"
        " TIMESTAMP'2024-01-02 03:04:05' AS ts,"
        " TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ts_ntz,"
        " array(l_linenumber, l_linenumber + 1) AS arr,"
        " named_struct('q', l_quantity, 'flag', l_returnflag) AS st,"
        " map(l_returnflag, l_tax) AS m,"
        " CAST(NULL AS STRING) AS null_str,"
        " CAST(NULL AS DECIMAL(10, 3)) AS null_dec,"
        " CAST(NULL AS ARRAY<TIMESTAMP>) AS null_arr"
        " FROM lineitem;\n"
        "CREATE TABLE typed_empty AS SELECT * FROM typed WHERE k < 0"
    )
    run(spark, tmp_path, sources=SOURCES)
    for name in ("typed", "typed_empty"):
        registered = spark.table(name).schema
        inferred = spark.read.parquet(str(tmp_path / "target" / name)).schema
        assert registered == inferred, name
    assert spark.table("typed").count() > 0
    assert spark.table("typed_empty").count() == 0


def test_run_job_count_upper_bound(spark):
    """Deterministic gate on `run` over examples/project: its one TABLE
    model costs the jobs of its write and none for the read-back (which
    used to launch a schema-inference job: 3 jobs a warm run, now 2)."""
    from powersql_spark.orchestrator.runner import run

    sc = spark.sparkContext

    def last_job() -> int:
        return max(sc.statusTracker().getJobIdsForGroup(), default=-1)

    run(spark, PROJECT, sources=SOURCES)  # registers sources, warms up
    before = last_job()
    run(spark, PROJECT, sources=SOURCES)
    assert last_job() - before <= 2
