"""Medallion pipeline runner: Bronze → Silver → Gold → export.

The reference's end-to-end lifecycle (SURVEY.md §3) re-expressed as one
programmatic runner (replacing FastAPI endpoints + generated Airflow DAGs,
reference: dag_generator.py:809-1157 master-chain semantics):

- **Bronze**: file/REST/JDBC source → lineage columns (_ingestion_date,
  _ingestion_timestamp, _pipeline_id, _schema_version — reference
  bronze_ingestion.py:190-196) → Parquet APPEND partitioned by
  _ingestion_date (reference wrote CSV: bronze_ingestion.py:198-206).
- **Silver / Gold**: read previous layer with its persisted schema → fold
  the validated transform chain → Parquet overwrite (reference
  silver_service.py:23-144, gold_service.py:56-161). Gold always reads the
  latest *Silver* output, never Bronze (reference spark_utils.py:177-238).
- **Row-count metrics** come from ``df.observe`` — a zero-cost observation
  on the write job — instead of the reference's extra ``df.count()`` jobs
  before/after every layer (silver_service.py:80,129; SURVEY.md §4 item 2).
"""

from __future__ import annotations

import datetime as _dt
import re
import time
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from autonomus_datapipeline_spark.catalog import Catalog
from autonomus_datapipeline_spark.engine.chain import StepMetric, TransformChain
from autonomus_datapipeline_spark.session import fan_out

# Table-name guard (reference gold_service.py:29-39)
_NAME_RE = re.compile(r"^[a-zA-Z_][a-zA-Z0-9_.]*$")


def sanitize_table_name(name: str) -> str:
    if not _NAME_RE.match(name) or len(name) > 63:
        raise ValueError(f"invalid table name: {name!r}")
    return name


@dataclass
class LayerResult:
    layer: str
    version: int
    path: str
    row_count: int
    elapsed_s: float
    step_metrics: list[StepMetric] = field(default_factory=list)
    quality: list = field(default_factory=list)  # DQResult per attached rule

    @property
    def quality_passed(self) -> bool:
        return all(r.passed for r in self.quality)


class Pipeline:
    """One named pipeline over a catalog: ingest, transform, export."""

    def __init__(
        self, spark: SparkSession, catalog: Catalog, name: str, audit=None
    ):
        self.spark = spark
        self.catalog = catalog
        self.name = sanitize_table_name(name)
        self.silver_chain = TransformChain(f"{name}.silver", audit=audit)
        self.gold_chain = TransformChain(f"{name}.gold", audit=audit)
        self._quality_rules: dict[str, list] = {}

    def set_quality_rules(self, layer: str, rules: list) -> None:
        """Attach data-quality rules (engine.quality.DQRule) to a layer.

        Rules run against the layer's WRITTEN output right after the write
        (one aggregation pass for all row-level rules — engine/quality.py),
        and the per-rule verdicts are recorded in the layer's catalog
        metadata: the reference declared exactly this surface as its
        ``data_quality_results`` table (db/init.sql:256-270) but never built
        the evaluation engine."""
        self._quality_rules[layer] = list(rules)

    # -- bronze ---------------------------------------------------------------

    def ingest_bronze(
        self,
        df: DataFrame,
        schema_version: int = 1,
        ingestion_date: str | None = None,
        batch_id: str | None = None,
    ) -> LayerResult:
        """Append a batch to Bronze with lineage columns.

        Partitioned by _ingestion_date so incremental readers prune to the
        new partition (the reference partitioned the same way but never
        filtered on it — reference bronze_ingestion.py:204, SURVEY.md §4).

        ``batch_id`` makes the append idempotent: a batch id already recorded
        in the version's metadata is skipped (row_count=0 result) — the batch
        twin of the streaming checkpoint's exactly-once re-run behavior, so
        orchestrator retries never double-ingest.
        """
        t0 = time.time()
        versions = self.catalog.versions("bronze", self.name)
        metas: dict[int, dict] = {}  # each version's _meta.json, read at most once
        if batch_id is not None:
            # Check against the UNION of batch ids across ALL bronze versions:
            # schema drift opens a new version directory, and a retried batch
            # recorded under an earlier version must still be skipped (else
            # read_bronze_history() double-counts it).
            for v in versions:
                try:
                    metas[v] = self.catalog.read_meta("bronze", self.name, v)
                except FileNotFoundError:
                    continue
                if batch_id in metas[v].get("ingested_batch_ids", []):
                    return LayerResult(
                        "bronze", v, self.catalog.data_path("bronze", self.name, v),
                        0, round(time.time() - t0, 3),
                    )
        ing_date = ingestion_date or _dt.date.today().isoformat()
        obs = Observation(f"bronze_{self.name}")
        lineage = (
            df.withColumn("_ingestion_date", F.lit(ing_date))
            .withColumn("_ingestion_timestamp", F.current_timestamp())
            .withColumn("_pipeline_id", F.lit(self.name))
            .withColumn("_schema_version", F.lit(schema_version))
            .observe(obs, F.count(F.lit(1)).alias("rows"))
        )
        # Schema evolution (SURVEY §7.4): appending a drifted schema into an
        # existing version would silently corrupt the persisted contract —
        # instead a drifted batch opens a NEW bronze version directory (the
        # reference's "re-detection bumps the version" semantics,
        # routers/schemas.py:126-173). read_bronze_history() unions versions.
        version = versions[-1] if versions else 1
        if versions:
            if version not in metas:
                metas[version] = self.catalog.read_meta("bronze", self.name, version)
            prev = T.StructType.fromJson(metas[version]["schema"])
            incoming_names = [(f.name, f.dataType.simpleString())
                              for f in lineage.schema.fields]
            prev_names = [(f.name, f.dataType.simpleString()) for f in prev.fields]
            if sorted(incoming_names) != sorted(prev_names):
                version += 1
        path = self.catalog.data_path("bronze", self.name, version)
        (
            lineage.write.mode("append")
            .partitionBy("_ingestion_date")
            .parquet(path)
        )
        rows = int(obs.get["rows"])
        # A drift-bumped (or first) version has no metadata yet.
        prior_ids = metas.get(version, {}).get("ingested_batch_ids", [])
        if batch_id is not None:
            prior_ids = [*prior_ids, batch_id]
        self.catalog.write_meta(
            "bronze", self.name, version, lineage.schema,
            {"last_ingestion_date": ing_date, "last_batch_rows": rows,
             "ingested_batch_ids": prior_ids},
        )
        return LayerResult("bronze", version, path, rows, round(time.time() - t0, 3))

    def read_bronze_history(self) -> DataFrame:
        """Union ALL bronze schema versions by name (missing columns null) —
        the cross-version reader for consumers that want full history after
        schema evolution (A9 unionByName semantics applied across versions)."""
        versions = self.catalog.versions("bronze", self.name)
        if not versions:
            raise FileNotFoundError(f"no bronze table for pipeline {self.name!r}")
        dfs = [self.catalog.read(self.spark, "bronze", self.name, v) for v in versions]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    # Above this many files the per-file schema probe (one driver round-trip
    # each) is skipped — at 10^5 files the probes dominate wall-clock, even
    # overlapped, while contributing only accounting detail.
    PROBE_FILE_LIMIT = 256

    def ingest_files(
        self,
        source,
        schema=None,
        schema_version: int = 1,
        ingestion_date: str | None = None,
    ) -> tuple[LayerResult, list[dict]]:
        """Bronze-ingest a FileSource with per-file success/skip accounting
        (reference bronze_ingestion.py:120-176: each file read individually,
        failures skipped and reported, survivors unioned).

        Up to :attr:`PROBE_FILE_LIMIT` files, each file is probed through a
        one-file copy of the source (schema resolution only — metadata or
        first bytes) and reported ok or skipped; the probes run concurrently
        (:func:`fan_out`) and are reported in file order. Above the limit,
        the probe is skipped: unreadable files surface at scan time (Spark's
        ``ignoreCorruptFiles`` can be passed via source options) and the
        report carries one summary row instead of one per file. Either way
        all readable files go through ONE parallel multi-path scan — not a
        driver-side union loop.
        """
        files = source.file_list()
        if len(files) > self.PROBE_FILE_LIMIT:
            readable = files
            reports = [{
                "status": "batch", "n_files": len(files),
                "note": "per-file probe skipped above PROBE_FILE_LIMIT",
            }]
        else:
            def probe(f: str) -> dict:
                try:
                    _ = source.one_file(f).read(self.spark, schema=schema).schema
                    return {"file": f, "status": "ok"}
                except Exception as exc:  # noqa: BLE001
                    return {"file": f, "status": "skipped", "error": str(exc)[:200]}

            reports = fan_out(self.spark, probe, files)
            readable = [r["file"] for r in reports if r["status"] == "ok"]
            if not readable:
                raise FileNotFoundError(f"no readable {source.fmt} files under {source.path}")
        df = replace(source, files=readable).read(self.spark, schema=schema)
        return self.ingest_bronze(df, schema_version, ingestion_date), reports

    # -- silver / gold ----------------------------------------------------------

    def _run_layer(
        self, layer: str, source_layer: str, chain: TransformChain
    ) -> LayerResult:
        t0 = time.time()
        src = self.catalog.read(self.spark, source_layer, self.name)
        out, metrics = chain.execute(src, self.spark)
        obs = Observation(f"{layer}_{self.name}_{time.time_ns()}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        version = self.catalog.next_version(layer, self.name)
        path = self.catalog.data_path(layer, self.name, version)
        out.write.mode("overwrite").parquet(path)
        rows = int(obs.get["rows"])
        dq_results = []
        extra_meta = {}
        rules = self._quality_rules.get(layer)
        if rules:
            from autonomus_datapipeline_spark.engine.quality import evaluate_rules

            # Evaluate on the parquet just written (not the in-memory df):
            # the verdicts then cover the bytes downstream readers see.
            dq_results = evaluate_rules(self.spark.read.parquet(path), rules)
            extra_meta["quality"] = [
                {
                    "rule_name": r.rule.name,
                    "rule_kind": r.rule.kind,
                    "column": r.rule.column,
                    "rule_config": r.rule.config,
                    "passed": r.passed,
                    "failure_count": r.failure_count,
                    "total_count": r.total_count,
                }
                for r in dq_results
            ]
        self.catalog.write_meta(
            layer, self.name, version, out.schema,
            {"source_layer": source_layer, "row_count": rows,
             "steps": [m.name for m in metrics], **extra_meta},
        )
        return LayerResult(layer, version, path, rows,
                           round(time.time() - t0, 3), metrics, dq_results)

    def run_silver(self) -> LayerResult:
        return self._run_layer("silver", "bronze", self.silver_chain)

    def run_gold(self) -> LayerResult:
        """Gold reads the latest Silver output (reference spark_utils.py:177-238)."""
        return self._run_layer("gold", "silver", self.gold_chain)

    def run_all(self, bronze_df: DataFrame) -> dict[str, LayerResult]:
        """Master-chain semantics: bronze → silver → gold, fail-fast
        (reference dag_generator.py:1050-1067)."""
        results = {"bronze": self.ingest_bronze(bronze_df)}
        results["silver"] = self.run_silver()
        results["gold"] = self.run_gold()
        return results
