"""Engine core: validation, sandbox, transform chain, medallion pipeline."""

from __future__ import annotations

import pytest

from autonomus_datapipeline_spark.catalog import Catalog
from autonomus_datapipeline_spark.engine import (
    Pipeline,
    TransformChain,
    compile_transform,
    dry_run,
)
from autonomus_datapipeline_spark.engine.pipeline import sanitize_table_name
from autonomus_datapipeline_spark.engine.validation import (
    TransformValidationError,
    validate_transform_code,
)

VALID = """
from pyspark.sql import functions as F

def transform(df, spark):
    return df.filter(F.col("o_orderstatus") != "P")
"""

BUCKET = """
from pyspark.sql import functions as F

def transform(df, spark):
    bucket = (
        F.when(F.col("o_totalprice") < 150000, "small").otherwise("large")
    )
    return df.withColumn("price_bucket", bucket)
"""

AGG = """
from pyspark.sql import functions as F

def transform(df, spark):
    return df.groupBy("price_bucket").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").alias("total_price"),
    )
"""


# -- validation ---------------------------------------------------------------


@pytest.mark.parametrize(
    "bad",
    [
        "x = 1",  # no transform
        "def transform(df, spark):\n    df.write.parquet('/x')\n    return df",
        "import subprocess\ndef transform(df, spark):\n    return df",
        "def transform(df, spark):\n    eval('1')\n    return df",
        "def transform(df, spark):\n    open('/etc/passwd')\n    return df",
        "def transform(df, spark):\n    return spark.read.json('/x')",
        "def transform(df, spark:\n    return df",  # syntax error
    ],
)
def test_validation_rejects(bad):
    with pytest.raises(TransformValidationError):
        validate_transform_code(bad)


def test_validation_accepts_lookup_reads():
    validate_transform_code(
        "def transform(df, spark):\n"
        "    ref = spark.read.csv('/data/routes.csv', header=True)\n"
        "    return df.join(ref, 'FlightNo')\n"
    )


# -- sandbox -------------------------------------------------------------------


def test_sandbox_blocks_disallowed_import():
    fn_code = "import socket\ndef transform(df, spark):\n    return df"
    with pytest.raises(ImportError):
        compile_transform(fn_code)


@pytest.mark.parametrize("mod", ["requests", "resource", "jsonpickle", "stringprep"])
def test_sandbox_blocks_prefix_riding_imports(mod):
    # 'requests' must not ride in on the 're' prefix (nor 'resource',
    # 'jsonpickle' on 'json', 'stringprep' on 'string') — whitelist matching
    # is per whole dotted segment.
    fn_code = f"import {mod}\ndef transform(df, spark):\n    return df"
    with pytest.raises(ImportError):
        compile_transform(fn_code)


def test_sandbox_allows_whitelisted_modules():
    code = (
        "import math, re, json\n"
        "from pyspark.sql import functions as F\n"
        "def transform(df, spark):\n"
        "    return df\n"
    )
    assert callable(compile_transform(code))


def test_dry_run_reports_error_not_raises(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    bad = (
        "from pyspark.sql import functions as F\n"
        "def transform(df, spark):\n"
        "    return df.select('no_such_column')\n"
    )
    res = dry_run(bad, df, spark)
    assert not res.ok and "no_such_column" in res.error


def test_dry_run_ok(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    res = dry_run(VALID, df, spark)
    assert res.ok
    assert len(res.rows) <= 10
    assert any(f["name"] == "o_orderkey" for f in res.output_schema)


# -- chain ---------------------------------------------------------------------


def test_chain_versioning_and_rollback():
    chain = TransformChain("t")
    chain.add_step("s1", VALID)
    assert chain.steps["s1"].version == 1
    chain.add_step("s1", BUCKET)
    assert chain.steps["s1"].version == 2
    chain.rollback("s1")
    assert chain.steps["s1"].code == VALID
    assert chain.steps["s1"].version == 3


def test_chain_order_and_deactivate():
    chain = TransformChain("t")
    chain.add_step("a", VALID)
    chain.add_step("b", BUCKET)
    chain.reorder(["b", "a"])
    assert [s.name for s in chain.active_steps()] == ["b", "a"]
    chain.deactivate("b")
    assert [s.name for s in chain.active_steps()] == ["a"]


# -- pipeline e2e (SURVEY.md §7.3 minimum slice) --------------------------------


def test_medallion_end_to_end(spark, sf_dir, tmp_path):
    catalog = Catalog(str(tmp_path / "warehouse"))
    pipe = Pipeline(spark, catalog, "orders_pipeline")
    pipe.silver_chain.add_step("filter", VALID)
    pipe.silver_chain.add_step("bucket", BUCKET)
    pipe.gold_chain.add_step("agg", AGG)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    dry = pipe.silver_chain.dry_run_all(orders, spark)
    assert all(r.ok for r in dry.values())

    results = pipe.run_all(orders)

    assert results["bronze"].row_count == orders.count()
    bronze = catalog.read(spark, "bronze", "orders_pipeline")
    assert {"_ingestion_date", "_ingestion_timestamp", "_pipeline_id",
            "_schema_version"} <= set(bronze.columns)

    silver = catalog.read(spark, "silver", "orders_pipeline")
    assert silver.filter("o_orderstatus = 'P'").count() == 0
    assert "price_bucket" in silver.columns
    assert results["silver"].row_count == silver.count()

    gold = catalog.read(spark, "gold", "orders_pipeline")
    assert set(gold.columns) == {"price_bucket", "n_orders", "total_price"}
    assert results["gold"].row_count == gold.count() == 2

    # bronze append: second batch lands in a new partition, count doubles
    r2 = pipe.ingest_bronze(orders, ingestion_date="2026-01-02")
    assert r2.row_count == orders.count()
    assert catalog.read(spark, "bronze", "orders_pipeline").count() == 2 * orders.count()
    # partition pruning on the lineage date column
    assert (
        catalog.read(spark, "bronze", "orders_pipeline")
        .filter("_ingestion_date = '2026-01-02'")
        .count()
        == orders.count()
    )


def test_gold_reads_latest_silver_version(spark, sf_dir, tmp_path):
    catalog = Catalog(str(tmp_path / "wh"))
    pipe = Pipeline(spark, catalog, "p2")
    pipe.silver_chain.add_step("filter", VALID)
    pipe.gold_chain.add_step("agg_all",
        "from pyspark.sql import functions as F\n"
        "def transform(df, spark):\n"
        "    return df.agg(F.count('*').alias('n'))\n")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    pipe.ingest_bronze(orders)
    pipe.run_silver()
    pipe.silver_chain.add_step("filter", BUCKET)  # v2: no filter, adds bucket
    pipe.run_silver()
    assert catalog.latest_version("silver", "p2") == 2
    gold = pipe.run_gold()
    n = spark.read.parquet(gold.path).collect()[0]["n"]
    assert n == orders.count()  # v2 silver (unfiltered) fed gold


def test_sanitize_table_name():
    assert sanitize_table_name("good_name") == "good_name"
    with pytest.raises(ValueError):
        sanitize_table_name("bad; drop table")
    with pytest.raises(ValueError):
        sanitize_table_name("x" * 64)


# -- audit trail + preview -------------------------------------------------------


def test_code_audit_trail(tmp_path):
    from autonomus_datapipeline_spark.engine.audit import CodeAudit

    audit = CodeAudit(str(tmp_path / "audit"))
    chain = TransformChain("pipe.silver", audit=audit)
    chain.add_step("s1", VALID)
    chain.add_step("s1", BUCKET)
    chain.rollback("s1")
    files = audit.history("pipe", "silver")
    assert len(files) == 3
    assert [f.split("_")[3] for f in files] == ["confirmed", "confirmed", "rollback"]


def test_code_audit_trail_dotted_pipeline_name(tmp_path):
    # Pipeline names may contain dots; the layer is the part after the LAST
    # dot, and a chain name without a dot audits under the "chain" layer.
    from autonomus_datapipeline_spark.engine.audit import CodeAudit

    audit = CodeAudit(str(tmp_path / "audit"))
    TransformChain("sales.daily.silver", audit=audit).add_step("s1", VALID)
    assert len(audit.history("sales.daily", "silver")) == 1
    assert audit.history("sales", "daily.silver") == []
    TransformChain("adhoc", audit=audit).add_step("s1", VALID)
    assert len(audit.history("adhoc", "chain")) == 1


def test_preview_json_safe(spark, sf_dir):
    from autonomus_datapipeline_spark.engine.audit import preview

    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    p = preview(df, n=5)
    assert len(p["rows"]) == 5
    assert isinstance(p["rows"][0]["o_orderdate"], str)  # ISO string, not datetime
    assert any(f["name"] == "o_totalprice" for f in p["schema"])


def test_bronze_schema_evolution(spark, tmp_path):
    from pyspark.sql import functions as F

    catalog = Catalog(str(tmp_path / "wh"))
    pipe = Pipeline(spark, catalog, "evolving")
    v1 = spark.createDataFrame([(1, "a")], ["id", "name"])
    r1 = pipe.ingest_bronze(v1, ingestion_date="2026-01-01")
    assert r1.version == 1

    # same schema → same version (append)
    r1b = pipe.ingest_bronze(v1, ingestion_date="2026-01-02")
    assert r1b.version == 1
    assert catalog.read(spark, "bronze", "evolving").count() == 2

    # drifted schema (new column) → version bump, old version untouched
    v2 = spark.createDataFrame([(2, "b", 9.5)], ["id", "name", "score"])
    r2 = pipe.ingest_bronze(v2, ingestion_date="2026-01-03")
    assert r2.version == 2
    assert catalog.read(spark, "bronze", "evolving", 1).count() == 2
    assert catalog.read(spark, "bronze", "evolving", 2).count() == 1

    hist = pipe.read_bronze_history()
    assert hist.count() == 3
    assert "score" in hist.columns
    assert hist.filter(F.col("score").isNull()).count() == 2


def test_bronze_idempotent_batch_ids(spark, tmp_path):
    catalog = Catalog(str(tmp_path / "wh"))
    pipe = Pipeline(spark, catalog, "idem")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
    r1 = pipe.ingest_bronze(df, batch_id="batch-001")
    assert r1.row_count == 2
    # orchestrator retry with the same batch id → no-op
    r2 = pipe.ingest_bronze(df, batch_id="batch-001")
    assert r2.row_count == 0
    assert catalog.read(spark, "bronze", "idem").count() == 2
    # a new batch id ingests
    r3 = pipe.ingest_bronze(df, batch_id="batch-002")
    assert r3.row_count == 2
    assert catalog.read(spark, "bronze", "idem").count() == 4


def test_bronze_idempotency_survives_schema_drift(spark, tmp_path):
    # A retried batch id recorded under an EARLIER bronze version must still
    # be skipped after schema drift opened a new version directory.
    catalog = Catalog(str(tmp_path / "wh"))
    pipe = Pipeline(spark, catalog, "idemdrift")
    v1 = spark.createDataFrame([(1, "a")], ["id", "v"])
    assert pipe.ingest_bronze(v1, batch_id="b1").row_count == 1
    # drifted schema → version 2
    v2 = spark.createDataFrame([(2, "b", 1.5)], ["id", "v", "score"])
    r2 = pipe.ingest_bronze(v2, batch_id="b2")
    assert r2.version == 2
    # retry of b1 (recorded under version 1) must be a no-op
    assert pipe.ingest_bronze(v1, batch_id="b1").row_count == 0
    assert pipe.read_bronze_history().count() == 2


def test_ingest_files_batch_mode_skips_per_file_probe(spark, tmp_path, monkeypatch):
    # Above PROBE_FILE_LIMIT the driver must not issue one schema probe per
    # file — one summary report row, one multi-path scan.
    from autonomus_datapipeline_spark.sources import FileSource

    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    tbl = pa.table({"id": [1, 2], "v": ["a", "b"]})
    for i in range(3):
        pq.write_table(tbl, str(src_dir / f"part{i}.parquet"))
    monkeypatch.setattr(Pipeline, "PROBE_FILE_LIMIT", 2)
    pipe = Pipeline(spark, Catalog(str(tmp_path / "wh")), "bulk")
    result, reports = pipe.ingest_files(FileSource(str(src_dir), "parquet"))
    assert result.row_count == 6
    assert len(reports) == 1 and reports[0]["status"] == "batch"
    assert reports[0]["n_files"] == 3


def test_fan_out_keeps_input_order_and_raises_first_failure(spark):
    import time

    from autonomus_datapipeline_spark.session import fan_out

    def slow_square(x):
        time.sleep(0.05 * (5 - x))  # later items finish first
        return x * x

    assert fan_out(spark, slow_square, range(5)) == [0, 1, 4, 9, 16]
    assert fan_out(spark, slow_square, [3]) == [9]
    assert fan_out(spark, slow_square, []) == []

    def fail_odd(x):
        time.sleep(0.05 * (5 - x))  # item 3 raises before item 1
        if x % 2:
            raise ValueError(f"item {x}")
        return x

    with pytest.raises(ValueError, match="item 1"):
        fan_out(spark, fail_odd, range(5))


def test_ingest_files_probe_reports_in_file_order(spark, tmp_path):
    # The per-file probes run concurrently; the report keeps file order and
    # a corrupt file in the middle is skipped, not fatal.
    from autonomus_datapipeline_spark.sources import FileSource

    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    tbl = pa.table({"id": [1, 2], "v": ["a", "b"]})
    pq.write_table(tbl, str(src_dir / "a.parquet"))
    (src_dir / "b.parquet").write_bytes(b"not a parquet file")
    pq.write_table(tbl, str(src_dir / "c.parquet"))
    pipe = Pipeline(spark, Catalog(str(tmp_path / "wh")), "ordered")
    result, reports = pipe.ingest_files(FileSource(str(src_dir), "parquet"))
    assert [r["status"] for r in reports] == ["ok", "skipped", "ok"]
    assert [r["file"].rsplit("/", 1)[1] for r in reports] == [
        "a.parquet", "b.parquet", "c.parquet"]
    assert 0 < len(reports[1]["error"]) <= 200
    assert result.row_count == 4


def test_load_table_events_does_not_mutate_session_tz(spark, sf_dir):
    from autonomus_datapipeline_spark.workloads.registry import load_table

    before = spark.conf.get("spark.sql.session.timeZone", None)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert spark.conf.get("spark.sql.session.timeZone", None) == before
    # and the conversion itself is session-TZ-independent
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        tokyo_first = load_table(spark, sf_dir, "events").orderBy("ts").first()["ts"]
    finally:
        if before is None:
            spark.conf.unset("spark.sql.session.timeZone")
        else:
            spark.conf.set("spark.sql.session.timeZone", before)
    utc_first = load_table(spark, sf_dir, "events").orderBy("ts").first()["ts"]
    assert tokyo_first == utc_first


def test_quality_rules_recorded_with_gold_write(spark, sf_dir, tmp_path):
    """DQ rules run against the WRITTEN gold output and land in the layer's
    catalog metadata (the reference's declared data_quality_results surface,
    db/init.sql:256-270) — verdict-r4 item 7."""
    from autonomus_datapipeline_spark.engine.quality import DQRule

    catalog = Catalog(str(tmp_path / "warehouse"))
    pipe = Pipeline(spark, catalog, "dq_pipeline")
    pipe.silver_chain.add_step("filter", VALID)
    pipe.silver_chain.add_step("bucket", BUCKET)
    pipe.gold_chain.add_step("agg", AGG)
    pipe.set_quality_rules(
        "gold",
        [
            DQRule("bucket_not_null", "not_null", "price_bucket"),
            DQRule("orders_positive", "in_range", "n_orders", {"min": 1}),
            DQRule("impossible_cap", "in_range", "n_orders", {"max": 1}),
        ],
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    results = pipe.run_all(orders)

    gold = results["gold"]
    assert [r.rule.name for r in gold.quality] == [
        "bucket_not_null", "orders_positive", "impossible_cap",
    ]
    assert gold.quality[0].passed and gold.quality[1].passed
    assert not gold.quality[2].passed  # n_orders > 1 at sf0.001
    assert gold.quality[2].failure_samples  # bounded failing-row samples
    assert not gold.quality_passed

    meta = catalog.read_meta("gold", "dq_pipeline", gold.version)
    recorded = meta["quality"]
    assert [q["rule_name"] for q in recorded] == [
        "bucket_not_null", "orders_positive", "impossible_cap",
    ]
    assert recorded[2]["passed"] is False
    assert recorded[2]["failure_count"] > 0
    assert all(q["total_count"] == gold.row_count for q in recorded)
    # layers without rules are unaffected
    assert results["silver"].quality == [] and results["silver"].quality_passed
