"""UDF registry (test-case-gated), config-driven pipeline specs, DQ rules."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from autonomus_datapipeline_spark.catalog import Catalog
from autonomus_datapipeline_spark.engine.quality import DQRule, evaluate_rules
from autonomus_datapipeline_spark.functions import (
    UdfRegistry,
    category_bucket,
    fahrenheit_to_celsius,
)
from autonomus_datapipeline_spark.functions.udf_registry import UdfTestFailure
from autonomus_datapipeline_spark.plans import PipelineSpec, run_spec


# -- column functions ----------------------------------------------------------


def test_category_bucket_and_f2c(spark):
    df = spark.createDataFrame([(10.0,), (45.0,), (75.0,), (212.0,)], ["v"])
    out = df.select(
        category_bucket(F.col("v"), [32.0, 100.0], ["cold", "warm", "hot"]).alias("b"),
        F.round(fahrenheit_to_celsius(F.col("v")), 2).alias("c"),
    ).collect()
    assert [r["b"] for r in out] == ["cold", "warm", "warm", "hot"]
    assert out[3]["c"] == 100.0


# -- udf registry -----------------------------------------------------------------


UDF_CODE = """
def title_case(s):
    if s is None:
        return None
    return " ".join(w[:1].upper() + w[1:] for w in s.split(" "))
"""


def test_udf_registration_with_passing_tests(spark):
    reg = UdfRegistry()
    reg.register(
        "title_case",
        UDF_CODE,
        "string",
        test_cases=[
            {"input": ["hello world"], "expected_output": "Hello World"},
            {"input": [None], "expected_output": None},
        ],
    )
    assert reg.names() == ["title_case"]
    df = spark.createDataFrame([("alpha beta",), ("gamma",)], ["t"])
    out = df.select(reg.as_pandas_udf("title_case")("t").alias("x")).collect()
    assert [r["x"] for r in out] == ["Alpha Beta", "Gamma"]

    reg.register_with_spark(spark, "title_case")
    got = spark.sql("SELECT title_case('one two') AS r").collect()[0]["r"]
    assert got == "One Two"


def test_udf_registration_rejects_failing_test():
    reg = UdfRegistry()
    with pytest.raises(UdfTestFailure):
        reg.register(
            "title_case",
            UDF_CODE,
            "string",
            test_cases=[{"input": ["x y"], "expected_output": "WRONG"}],
        )
    assert reg.names() == []


def test_udf_sandbox_applies():
    reg = UdfRegistry()
    with pytest.raises(ImportError):
        reg.register("f", "import os\ndef f(x):\n    return x", "string")


# -- config-driven pipeline spec ---------------------------------------------------


def test_run_spec_end_to_end(spark, tmp_path):
    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.csv").write_text("city,temp_f\nOslo,20\nCairo,95\n")
    (src / "b.csv").write_text("city,temp_f\nQuito,60\n")
    spec = {
        "name": "weather",
        "source": {"kind": "files", "path": str(src), "format": "csv"},
        "silver": [
            {
                "name": "to_celsius",
                "code": (
                    "from pyspark.sql import functions as F\n"
                    "def transform(df, spark):\n"
                    "    return df.withColumn('temp_c',"
                    " F.round((F.col('temp_f') - 32) * 5.0 / 9.0, 1))\n"
                ),
            }
        ],
        "gold": [
            {
                "name": "hot_cities",
                "code": (
                    "from pyspark.sql import functions as F\n"
                    "def transform(df, spark):\n"
                    "    return df.filter(F.col('temp_c') > 10)"
                    ".select('city', 'temp_c')\n"
                ),
            }
        ],
    }
    catalog = Catalog(str(tmp_path / "wh"))
    results = run_spec(spark, catalog, spec)
    assert results["bronze"].row_count == 3
    gold = catalog.read(spark, "gold", "weather")
    assert {r["city"] for r in gold.collect()} == {"Cairo", "Quito"}


def test_spec_from_dict_roundtrip():
    spec = PipelineSpec.from_dict(
        {"name": "x", "source": {"kind": "files", "path": "/p"}}
    )
    assert spec.name == "x" and spec.silver == [] and spec.export is None


_AIRFLOW_SPEC = {
    "name": "weather",
    "source": {"kind": "files", "path": "/data/in", "format": "csv"},
    "silver": [{"name": "clean", "code": "def transform(df, spark):\n    return df\n"}],
    "gold": [{"name": "agg", "code": "def transform(df, spark):\n    return df\n"}],
    "export": {"kind": "jdbc", "url": "jdbc:postgresql://h/db", "table": "t",
               "mode": "replace"},
}


def test_airflow_dag_emitter_structure():
    # The rendered DAG must parse under ast and wire the task chain
    # bronze >> silver >> gold >> export (reference dag_generator.py:1050-1067).
    import ast

    from autonomus_datapipeline_spark.plans.airflow_emit import render_airflow_dag

    src = render_airflow_dag(_AIRFLOW_SPEC, warehouse="/wh", schedule="@hourly")
    tree = ast.parse(src)  # syntactically valid Python

    task_ids = [
        kw.value.value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "PythonOperator"
        for kw in node.keywords
        if kw.arg == "task_id"
    ]
    assert task_ids == [
        "bronze_ingest", "silver_transform", "gold_transform", "export_gold",
    ]

    # the chain expression is a left-nested >> of the four task names, in order
    chain_names = []

    def flatten(n):
        if isinstance(n, ast.BinOp) and isinstance(n.op, ast.RShift):
            flatten(n.left)
            flatten(n.right)
        elif isinstance(n, ast.Name):
            chain_names.append(n.id)

    chains = [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.BinOp)
        and isinstance(n.value.op, ast.RShift)
    ]
    assert len(chains) == 1
    flatten(chains[0])
    assert chain_names == [
        "bronze_ingest", "silver_transform", "gold_transform", "export_gold",
    ]

    # without export: three tasks, three-node chain
    no_exp = {k: v for k, v in _AIRFLOW_SPEC.items() if k != "export"}
    src2 = render_airflow_dag(no_exp, warehouse="/wh")
    assert "export_gold" not in src2
    # the embedded spec JSON round-trips
    import json
    embedded = src2.split("json.loads(r'''")[1].split("''')")[0]
    assert json.loads(embedded)["name"] == "weather"


def test_airflow_task_callables_run_without_airflow(spark, tmp_path):
    # The generated DAG's python_callable must work as plain functions —
    # one fresh-session task per layer, idempotent bronze via batch_id.
    from autonomus_datapipeline_spark.plans.spec import run_layer_task

    src = tmp_path / "landing"
    src.mkdir()
    (src / "a.csv").write_text("city,temp_f\nOslo,20\nCairo,95\n")
    spec = {
        "name": "aftest",
        "source": {"kind": "files", "path": str(src), "format": "csv"},
        "silver": [{"name": "noop", "code": "def transform(df, spark):\n    return df\n"}],
        "gold": [{"name": "noop", "code": "def transform(df, spark):\n    return df\n"}],
    }
    wh = str(tmp_path / "wh")
    r1 = run_layer_task("bronze", spec, wh, batch_id="run_2026-08-13T00:00:00")
    assert r1["row_count"] == 2
    # Airflow retry of the same run_id → no double ingest
    r1b = run_layer_task("bronze", spec, wh, batch_id="run_2026-08-13T00:00:00")
    assert r1b["row_count"] == 0
    assert run_layer_task("silver", spec, wh)["row_count"] == 2
    assert run_layer_task("gold", spec, wh)["row_count"] == 2
    gold = Catalog(wh).read(spark, "gold", "aftest")
    assert gold.count() == 2


# -- data quality --------------------------------------------------------------------


def test_dq_rules(spark):
    df = spark.createDataFrame(
        [
            (1, "a@x.com", 10.0, dt.datetime(2026, 8, 13, 10, 0, 0)),
            (2, None, 500.0, dt.datetime(2026, 8, 13, 10, 0, 0)),
            (2, "bad-email", 50.0, dt.datetime(2020, 1, 1, 0, 0, 0)),
        ],
        ["id", "email", "value", "updated_at"],
    )
    rules = [
        DQRule("email_present", "not_null", "email"),
        DQRule("value_range", "in_range", "value", {"min": 0, "max": 100}),
        DQRule("email_format", "matches_regex", "email", {"pattern": r"^[^@]+@[^@]+$"}),
        DQRule("id_unique", "unique", "id"),
        DQRule(
            "fresh", "freshness", "updated_at", {"max_age_seconds": 86400 * 365}
        ),
    ]
    now = dt.datetime(2026, 8, 13, 12, 0, 0, tzinfo=dt.timezone.utc)
    res = {r.rule.name: r for r in evaluate_rules(df, rules, now=now)}

    assert not res["email_present"].passed
    assert res["email_present"].failure_count == 1
    assert res["email_present"].failure_samples[0]["id"] == 2

    assert not res["value_range"].passed and res["value_range"].failure_count == 1
    assert not res["email_format"].passed and res["email_format"].failure_count == 2
    assert not res["id_unique"].passed and res["id_unique"].failure_count == 1
    assert not res["fresh"].passed and res["fresh"].failure_count == 1

    ok = evaluate_rules(
        df.filter("id = 1"),
        [DQRule("v", "in_range", "value", {"min": 0, "max": 100})],
    )
    assert ok[0].passed and ok[0].failure_count == 0


def test_dq_freshness_independent_of_now_offset(spark):
    # One row 2 h old against a 3 h limit: fresh, whichever offset ``now``
    # carries, and a naive ``now`` reads as UTC.
    utc = dt.timezone.utc
    df = spark.createDataFrame(
        [(1, dt.datetime(2026, 8, 13, 10, 0, 0, tzinfo=utc))], ["id", "updated_at"]
    )
    rule = DQRule("fresh", "freshness", "updated_at", {"max_age_seconds": 3 * 3600})
    nows = [
        dt.datetime(2026, 8, 13, 12, 0, 0, tzinfo=utc),
        dt.datetime(2026, 8, 13, 17, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=5))),
        dt.datetime(2026, 8, 13, 12, 0, 0),
    ]
    counts = [evaluate_rules(df, [rule], now=now)[0].failure_count for now in nows]
    assert counts == [0, 0, 0]
    late = dt.datetime(2026, 8, 13, 19, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=5)))
    assert evaluate_rules(df, [rule], now=late)[0].failure_count == 1


def test_dq_failure_samples_match_sequential_collect(spark):
    # Concurrent follow-up jobs return what a sequential filter/limit/collect
    # returns, in rule order with uniqueness rules last.
    df = spark.createDataFrame(
        [(i, None if i % 3 == 0 else f"u{i}@x.com", float(i * 10), i % 4)
         for i in range(30)],
        ["id", "email", "value", "bucket"],
    ).coalesce(1)
    rules = [
        DQRule("bucket_unique", "unique", "bucket"),
        DQRule("email_present", "not_null", "email"),
        DQRule("value_range", "in_range", "value", {"min": 0, "max": 100}),
        DQRule("id_positive", "in_range", "id", {"min": 0}),
        DQRule("id_unique", "unique", "id"),
    ]
    res = evaluate_rules(df, rules, sample_failures=3)
    assert [r.rule.name for r in res] == [
        "email_present", "value_range", "id_positive", "bucket_unique", "id_unique"]

    def sequential(pred):
        return [r.asDict(recursive=True) for r in df.filter(pred).limit(3).collect()]

    assert res[0].failure_samples == sequential(F.col("email").isNull())
    assert res[1].failure_samples == sequential(
        (F.col("value") < 0) | (F.col("value") > 100) | F.col("value").isNull())
    assert res[2].passed and res[2].failure_samples == []
    assert res[3].failure_count == 4 and len(res[3].failure_samples) == 3
    assert res[4].passed and res[4].failure_samples == []


def test_dq_accepted_values(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    res = evaluate_rules(
        orders,
        [DQRule("status_domain", "accepted_values", "o_orderstatus",
                {"values": ["P", "O", "F"]})],
    )
    assert res[0].passed


# -- CLI surface -------------------------------------------------------------------


def test_cli_run_spec_subprocess(tmp_path):
    import json as _json
    import subprocess
    import sys

    src = tmp_path / "in"
    src.mkdir()
    (src / "d.csv").write_text("k,v\n1,5\n2,6\n")
    spec = {
        "name": "cli_demo",
        "source": {"kind": "files", "path": str(src), "format": "csv"},
        "gold": [{"name": "agg", "code": (
            "from pyspark.sql import functions as F\n"
            "def transform(df, spark):\n"
            "    return df.agg(F.sum('v').alias('total'))\n")}],
    }
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(_json.dumps(spec))
    proc = subprocess.run(
        [sys.executable, "-m", "autonomus_datapipeline_spark", "run-spec",
         str(spec_path), "--warehouse", str(tmp_path / "wh")],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = _json.loads(proc.stdout[proc.stdout.index("{"):])
    assert out["gold"]["row_count"] == 1


def test_time_delay_seconds(spark):
    import datetime as _dt

    from autonomus_datapipeline_spark.functions import time_delay_seconds

    df = spark.createDataFrame(
        [(_dt.datetime(2024, 1, 1, 10, 0, 0), _dt.datetime(2024, 1, 1, 10, 30, 45))],
        ["scheduled", "actual"],
    )
    out = df.select(
        time_delay_seconds(F.col("actual"), F.col("scheduled")).alias("d")
    ).collect()[0]["d"]
    assert out == 30 * 60 + 45


def test_udaf_grouped_agg_through_registry(spark):
    reg = UdfRegistry()
    reg.register(
        "lo_med",
        "def lo_med(v):\n    s = sorted(list(v))\n    return float(s[(len(s) - 1) // 2])\n",
        "double",
        test_cases=[{"input": [[4.0, 1.0, 3.0, 2.0]], "expected_output": 2.0}],
    )
    med = reg.as_grouped_agg_udf("lo_med")
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0), ("a", 5.0), ("b", 2.0)], ["k", "v"]
    )
    got = {r.k: r.m for r in df.groupBy("k").agg(med("v").alias("m")).collect()}
    assert got == {"a": 5.0, "b": 2.0}


def test_udtf_registration_and_sql(spark):
    reg = UdfRegistry()
    code = (
        "def split_pairs(s):\n"
        "    for p in s.split(','):\n"
        "        k, v = p.split('=')\n"
        "        yield (k, int(v))\n"
    )
    reg.register_table_function(
        "split_pairs",
        code,
        "k: string, v: int",
        test_cases=[{"input": ["a=1,b=2"], "expected_output": [("a", 1), ("b", 2)]}],
    )
    reg.register_udtf_with_spark(spark, "split_pairs")
    rows = spark.sql("SELECT * FROM split_pairs('x=7,y=9')").collect()
    assert [(r.k, r.v) for r in rows] == [("x", 7), ("y", 9)]


def test_udtf_failing_test_case_rejected():
    reg = UdfRegistry()
    with pytest.raises(UdfTestFailure):
        reg.register_table_function(
            "g",
            "def g(x):\n    yield (x + 1,)\n",
            "y: int",
            test_cases=[{"input": [1], "expected_output": [(99,)]}],
        )


def test_cli_explain_subprocess():
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "-m", "autonomus_datapipeline_spark", "explain",
         "q6_forecast_revenue", "--sf-dir", "/root/testdata/sf0.001"],
        capture_output=True, text=True, timeout=300, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "Physical Plan" in proc.stdout
    assert "PushedFilters" in proc.stdout
