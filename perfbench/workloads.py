"""The four workloads. Each drives the package only through its public
functions and checks every op's outputs after the op's timed window.

A workload runs in *units*: the scripted piece that repeats until the run's
time is up (one batch op, one ingest episode of several cycles, one
authoring session script, one curation op). Units always run to the end, so
every unit of a run is measured on the same inputs and history.
"""

from __future__ import annotations

import json
import math
import os
import shutil

import gen
import reference
from harness import Harness

from autonomus_datapipeline_spark.catalog import Catalog
from autonomus_datapipeline_spark.engine.audit import CodeAudit, preview
from autonomus_datapipeline_spark.engine.chain import TransformChain
from autonomus_datapipeline_spark.engine.codegen import (
    FakeProvider,
    TransformConversation,
    schema_context,
)
from autonomus_datapipeline_spark.engine.pipeline import Pipeline
from autonomus_datapipeline_spark.engine.quality import DQRule, evaluate_rules
from autonomus_datapipeline_spark.inference.detect import (
    detect_file_schema,
    detect_records_schema,
)
from autonomus_datapipeline_spark.inference.schema_inference import to_struct_type
from autonomus_datapipeline_spark.plans.spec import run_spec
from autonomus_datapipeline_spark.sources.files import FileSource
from autonomus_datapipeline_spark.streaming.ingest import stream_dir_to_bronze
from autonomus_datapipeline_spark.workloads.curation_pipeline import (
    _funnel_oracle,
    curation_spec,
)


def _types(result) -> dict[str, str]:
    return {f.name: f.detected_type for f in result.fields}


class Workload:
    name = ""
    item = ""  # what items_per_s counts

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.catalog = Catalog(os.path.join(work, "warehouse"))
        self.units = 0

    def generate(self) -> dict:
        """Write the inputs; return the planted answers (untimed)."""
        raise NotImplementedError

    def reference(self) -> None:
        """Compute the DuckDB reference results (untimed)."""

    def warmup(self, spark) -> None:
        """The full warm-up, run in the first set-up only."""
        raise NotImplementedError

    def rewarm(self, spark) -> None:
        """The first, light Spark request on a freshly started context."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Untimed state the units need (after set-up)."""

    def unit(self, spark, h: Harness) -> None:
        raise NotImplementedError

    def _drop_pipeline(self, name: str) -> None:
        for layer in ("bronze", "silver", "gold"):
            shutil.rmtree(os.path.join(self.catalog.root, layer, name), ignore_errors=True)


# ---------------------------------------------------------------------------
# batch_medallion
# ---------------------------------------------------------------------------

SILVER_FLIGHTS = '''from pyspark.sql import functions as F
def transform(df, spark):
    d = df.filter(F.col("Status") != "Cancelled")
    delay = F.expr("(unix_timestamp(ActualArrival) - unix_timestamp(ScheduledArrival)) div 60")
    d = d.withColumn("delay_min", delay)
    bucket = (F.when(F.col("delay_min").isNull(), "Unknown")
              .when(F.col("delay_min") <= 0, "On Time")
              .when(F.col("delay_min") <= 30, "Minor")
              .when(F.col("delay_min") <= 60, "Moderate")
              .otherwise("Severe"))
    return d.withColumn("delay_bucket", bucket)
'''

GOLD_FLIGHTS = '''from pyspark.sql import functions as F
def transform(df, spark):
    routes = spark.read.csv("{routes}", header=True)
    r = routes.select("FlightNo", F.col("Origin").alias("RouteOrigin"))
    j = df.join(F.broadcast(r), "FlightNo")
    return j.groupBy("RouteOrigin", "delay_bucket").agg(
        F.count(F.lit(1)).alias("flights"),
        F.sum("delay_min").alias("delay_sum"),
        F.max("delay_min").alias("delay_max"))
'''

FLIGHT_RULES = [
    DQRule("arrival_not_null", "not_null", "ActualArrival"),
    DQRule("delay_in_range", "in_range", "DelayMinutes", {"min": -60, "max": 600}),
    DQRule("status_accepted", "accepted_values", "Status",
           {"values": ["On Time", "Delayed"]}),
]


class BatchMedallion(Workload):
    name = "batch_medallion"
    item = "input rows"
    ROWS = 40_000
    FILES = 8

    def generate(self):
        self.inp = gen.write_flights(os.path.join(self.work, "in"), self.seed,
                                     self.ROWS, self.FILES)
        self.warm = gen.write_flights(os.path.join(self.work, "warm"), self.seed + 1,
                                      1_000, 1)
        return {k: self.inp[k] for k in ("rows", "bytes", "types", "dq", "cancelled")}

    def reference(self):
        self.ref = reference.flights(self.inp["flights_dir"], self.inp["routes_path"])
        for rule, n in self.inp["dq"].items():
            if self.ref["dq"][rule] != n:
                raise RuntimeError(f"generator planted {n} {rule} violations, "
                                   f"DuckDB counts {self.ref['dq'][rule]}")

    def _op(self, spark, inp: dict, name: str):
        src = FileSource(path=inp["flights_dir"], fmt="csv")
        detected = detect_file_schema(spark, src)
        schema = to_struct_type(detected.fields)
        pipe = Pipeline(spark, self.catalog, name)
        pipe.silver_chain.add_step("clean", SILVER_FLIGHTS)
        pipe.gold_chain.add_step("by_origin", GOLD_FLIGHTS.format(routes=inp["routes_path"]))
        bronze, reports = pipe.ingest_files(src, schema=schema)
        silver = pipe.run_silver()
        gold = pipe.run_gold()
        dq = evaluate_rules(self.catalog.read(spark, "silver", name), FLIGHT_RULES)
        return detected, bronze, silver, gold, dq, reports

    def warmup(self, spark):
        # Two ops on the real inputs: the first ops of a JVM run up to twice
        # as slow while the JIT compiles the scan and write paths; after
        # two, the next ops run within about 10% of the steady wall.
        for i in range(2):
            self._op(spark, self.inp, f"warm{i}")
            self._drop_pipeline(f"warm{i}")

    def rewarm(self, spark):
        detect_file_schema(spark, FileSource(path=self.warm["flights_dir"], fmt="csv"))

    def unit(self, spark, h):
        name = f"flights{self.units}"
        self.units += 1
        before = h.dir_stats(self.catalog.root)
        op, out = h.run("batch", self._op, spark, self.inp, name)
        op.items = self.ROWS
        if op.ok:
            detected, bronze, silver, gold, dq, reports = out
            op.check(_types(detected) == self.inp["types"],
                     f"detected types {_types(detected)}")
            op.check(len(detected.compatible_files) == self.FILES, "compatible files")
            op.check(bronze.row_count == self.ROWS, f"bronze rows {bronze.row_count}")
            op.check(silver.row_count == self.ref["silver_rows"],
                     f"silver rows {silver.row_count} != {self.ref['silver_rows']}")
            rows = sorted(tuple(r) for r in self.catalog.read(spark, "gold", name).collect())
            op.check(rows == sorted(self.ref["gold"]), "gold rows differ from DuckDB")
            op.check(gold.row_count == len(self.ref["gold"]), "gold row count")
            got = {r.rule.name: r.failure_count for r in dq}
            op.check(got == self.ref["dq"], f"dq failures {got} != {self.ref['dq']}")
            after = h.dir_stats(self.catalog.root)
            op.counters.update({
                "inference.sample_rows": detected.sample_row_count,
                "sources.files": sum(1 for r in reports if r.get("status") == "ok"),
                "sources.bytes_in": self.inp["bytes"],
                "quality.failures": sum(got.values()),
                **h.write_counters(before, after, self.inp["bytes"]),
            })
        self._drop_pipeline(name)


# ---------------------------------------------------------------------------
# incremental_ingest
# ---------------------------------------------------------------------------

SILVER_SENSORS = '''from pyspark.sql import functions as F
def transform(df, spark):
    t = (F.col("temperature") - 32) * 5 / 9
    d = df.select("sensor_id", "location", "timestamp", "humidity", "pressure",
                  t.alias("temp_c"))
    d = d.withColumn("is_anomaly", (F.col("temp_c") < -20) | (F.col("temp_c") > 50))
    return d.withColumn("hour", F.hour("timestamp"))
'''

GOLD_SENSORS = '''from pyspark.sql import functions as F
def transform(df, spark):
    g = df.groupBy("sensor_id", "hour").agg(
        F.count(F.lit(1)).alias("readings"),
        F.min("temp_c").alias("temp_min"), F.max("temp_c").alias("temp_max"),
        F.avg("temp_c").alias("temp_avg"),
        F.min("humidity").alias("hum_min"), F.max("humidity").alias("hum_max"),
        F.avg("humidity").alias("hum_avg"),
        F.sum(F.col("is_anomaly").cast("int")).alias("anomalies"))
    return g.withColumn("anomalous_hour", F.col("anomalies") > 3)
'''

LINEAGE = [("_ingestion_date", "string"), ("_ingestion_timestamp", "timestamp"),
           ("_pipeline_id", "string"), ("_schema_version", "integer")]


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


class SensorFeed:
    """Incremental ingest of sensor batches (FIXTURES F3): each batch lands
    in a directory, ``stream_dir_to_bronze`` (availableNow, checkpointed)
    appends it to the catalog's Bronze path, an immediate re-trigger on the
    same checkpoint must commit nothing, and Silver/Gold are rebuilt over the
    full history. Every episode starts a fresh pipeline, so cycle ``c`` of
    every episode sees the same history."""

    def __init__(self, work: str, catalog: Catalog, seed: int, batches: int, rows: int):
        self.work = work
        self.catalog = catalog
        self.seed = seed
        self.batches = batches
        self.rows = rows

    def _stage(self, tag: str, texts: list[str]) -> list[str]:
        stage = os.path.join(self.work, tag)
        os.makedirs(stage, exist_ok=True)
        paths = []
        for i, text in enumerate(texts):
            p = os.path.join(stage, f"batch-{i:04d}.json")
            with open(p, "w") as fh:
                fh.write(text)
            paths.append(p)
        return paths

    def generate(self) -> dict:
        self.staged = self._stage("staged", gen.sensor_batches(self.seed, self.batches,
                                                               self.rows))
        self.warm_staged = self._stage("warm_staged",
                                       gen.sensor_batches(self.seed + 1, self.batches, 500))
        with open(self.staged[0]) as fh:
            records = [json.loads(line) for line in fh.read().splitlines()[:1000]]
        # The stream's schema comes from the package's record-level
        # detection over the first batch, as a user registering the
        # source would get it.
        detected = detect_records_schema(records)
        if _types(detected) != gen.SENSOR_TYPES:
            raise RuntimeError(f"sensor schema detected as {_types(detected)}")
        self.schema = to_struct_type(detected.fields)
        return {"batches": self.batches, "rows_per_batch": self.rows,
                "types": dict(gen.SENSOR_TYPES)}

    def reference(self) -> None:
        self.ref = [reference.sensors(self.staged[:k + 1]) for k in range(self.batches)]
        for k, r in enumerate(self.ref):
            if r["rows"] != r["keys"]:
                raise RuntimeError(f"generated batches repeat a key by batch {k}")

    def start(self, spark, name: str) -> dict:
        """Fresh episode: landing and checkpoint dirs, the Bronze path
        registered once with ``Catalog.write_meta``, the Silver/Gold chains."""
        from pyspark.sql import types as T

        root = os.path.join(self.work, "episodes", name)
        src = os.path.join(root, "landing")
        os.makedirs(src, exist_ok=True)
        fields = list(self.schema.fields) + [
            T.StructField(n, {"string": T.StringType(), "timestamp": T.TimestampType(),
                              "integer": T.IntegerType()}[t], True) for n, t in LINEAGE]
        self.catalog.write_meta("bronze", name, 1, T.StructType(fields), {"source": "stream"})
        pipe = Pipeline(spark, self.catalog, name)
        pipe.silver_chain.add_step("to_celsius", SILVER_SENSORS)
        pipe.gold_chain.add_step("hourly", GOLD_SENSORS)
        return {"name": name, "root": root, "src": src,
                "ckpt": os.path.join(root, "checkpoint"), "pipe": pipe}

    def land(self, ep: dict, path: str) -> str:
        """Move a staged batch into the landing dir atomically (untimed)."""
        landed = os.path.join(ep["src"], os.path.basename(path))
        shutil.copyfile(path, landed + ".tmp")
        os.replace(landed + ".tmp", landed)
        return landed

    def cycle(self, spark, h, ep: dict):
        name, src, ckpt = ep["name"], ep["src"], ep["ckpt"]
        bronze_path = self.catalog.data_path("bronze", name, 1)
        with h.span("streaming.trigger"):
            q = stream_dir_to_bronze(spark, src, self.schema, bronze_path, ckpt, name)
            q.awaitTermination()
        h.add_group(str(q.runId))
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        with h.span("streaming.retrigger"):
            q2 = stream_dir_to_bronze(spark, src, self.schema, bronze_path, ckpt, name)
            q2.awaitTermination()
        h.add_group(str(q2.runId))
        again = sum(p["numInputRows"] for p in q2.recentProgress)
        silver = ep["pipe"].run_silver()
        gold = ep["pipe"].run_gold()
        return rows, again, silver, gold

    def check(self, spark, h, op, ep: dict, c: int, out, landed: str, before) -> None:
        rows, again, silver, gold = out
        ref = self.ref[c]
        op.check(rows == self.rows, f"trigger committed {rows} rows")
        op.check(again == 0, f"re-trigger committed {again} rows")
        n, keys = self.catalog.read(spark, "bronze", ep["name"]).selectExpr(
            "count(*)", "count(DISTINCT sensor_id, timestamp)").first()
        op.check(n == ref["rows"] == (c + 1) * self.rows,
                 f"bronze rows {n} != landed {ref['rows']}")
        op.check(keys == n, f"bronze holds {n - keys} duplicate rows")
        got = sorted(tuple(r) for r in self.catalog.read(spark, "gold", ep["name"]).collect())
        same = len(got) == len(ref["gold"]) and all(
            all(_close(a, b) for a, b in zip(x, y)) for x, y in zip(got, ref["gold"]))
        op.check(same, "gold differs from DuckDB")
        after = h.dir_stats(self.catalog.root)
        op.counters.update({
            "streaming.rows_committed": rows,
            "streaming.retrigger_rows": again,
            "streaming.checkpoint_files": h.dir_stats(ep["ckpt"])[0],
            "pipeline.bronze_rows": rows,
            **h.write_counters(before, after, os.path.getsize(landed)),
        })

    def finish(self, ep: dict) -> None:
        for layer in ("bronze", "silver", "gold"):
            shutil.rmtree(os.path.join(self.catalog.root, layer, ep["name"]),
                          ignore_errors=True)
        shutil.rmtree(ep["root"], ignore_errors=True)


# ---------------------------------------------------------------------------
# interactive_authoring
# ---------------------------------------------------------------------------

SIZE_CODE = '''from pyspark.sql import functions as F
def transform(df, spark):
    return df.withColumn("size_change", F.col("newlen") - F.col("oldlen"))
'''
SIZE_CODE_V2 = '''from pyspark.sql import functions as F
def transform(df, spark):
    return df.withColumn("size_change", F.col("newlen") - F.col("oldlen") + F.lit(0))
'''
REJECTED_CODE = '''def transform(df, spark):
    df.write.parquet("elsewhere")
    return df
'''
BAD_COLUMN_CODE = '''from pyspark.sql import functions as F
def transform(df, spark):
    return df.withColumn("size_change", F.col("new_len") - F.col("oldlen"))
'''
CHAIN_STEPS = [
    ("user_lc", '''from pyspark.sql import functions as F
def transform(df, spark):
    return df.withColumn("user_lc", F.lower(F.col("user")))
'''),
    ("is_bot_user", '''from pyspark.sql import functions as F
def transform(df, spark):
    return df.withColumn("is_bot_user", F.col("user_lc").endswith("bot"))
'''),
    ("hour", '''from pyspark.sql import functions as F
def transform(df, spark):
    return df.withColumn("hour", F.hour("timestamp"))
'''),
    ("slim", '''def transform(df, spark):
    return df.select("rcid", "ns", "title", "user_lc", "is_bot_user", "hour", "size_change")
'''),
]
CHAIN_COLUMNS = sorted(["rcid", "ns", "title", "user_lc", "is_bot_user", "hour", "size_change"])


def _fence(code: str) -> str:
    return f"```python\n{code}```"


PROVIDER_SCRIPT = [
    "[CLARIFICATION] Should size_change be newlen minus oldlen?",
    _fence(REJECTED_CODE),
    _fence(SIZE_CODE),
    _fence(BAD_COLUMN_CODE),
    _fence(SIZE_CODE),
]


class InteractiveAuthoring(Workload):
    name = "interactive_authoring"
    item = "requests"
    ROWS = 8_000
    FILES = 8
    PAGE = 1_000
    DOCS = 120
    BATCHES = 2
    BATCH_ROWS = 8_000

    def generate(self):
        self.inp = gen.write_changes(os.path.join(self.work, "changes"), self.seed,
                                     self.ROWS, self.FILES)
        self.warm = gen.write_changes(os.path.join(self.work, "warm"), self.seed + 1, 400, 2)
        self.page = gen.change_records(self.seed, self.PAGE, offset=10 ** 6)
        self.corpus = gen.write_corpus(os.path.join(self.work, "corpus"), self.seed, self.DOCS)
        self.warm_corpus = gen.write_corpus(os.path.join(self.work, "warm_corpus"),
                                            self.seed + 1, 40, 2)
        self.feed = SensorFeed(self.work, self.catalog, self.seed, self.BATCHES,
                               self.BATCH_ROWS)
        self.audit_dir = os.path.join(self.work, "audit")
        return {"rows": self.ROWS, "files": self.FILES, "page": self.PAGE,
                "types": dict(gen.CHANGE_TYPES), "sensors": self.feed.generate(),
                "corpus": {k: v for k, v in self.corpus.items() if k not in ("dir", "files")}}

    def reference(self):
        self.funnel_ref = reference.funnel(self.corpus["dir"], _funnel_oracle())
        self.feed.reference()

    def _build_bronze(self, spark, inp: dict, name: str):
        schema = to_struct_type(detect_records_schema(self.page).fields)
        pipe = Pipeline(spark, self.catalog, name)
        pipe.ingest_files(FileSource(path=inp["dir"], fmt="json"), schema=schema)

    def warmup(self, spark):
        # Two sessions: after one, the curation request of the next session
        # still varied by about 40% between runs on a quiet host.
        self._build_bronze(spark, self.warm, "warm")
        cols = sorted(self.catalog.read(spark, "bronze", "warm").columns)
        for _ in range(2):
            self._script(spark, Harness(None), {
                "name": "warm", "rows": 400, "cols": cols, "corpus": self.warm_corpus,
                "batches": self.feed.warm_staged, "check": False})

    def rewarm(self, spark):
        schema_context(self.catalog.read(spark, "bronze", "warm"))

    def prepare(self, spark):
        self._build_bronze(spark, self.inp, "changes")
        path = self.catalog.data_path("bronze", "changes", 1)
        rows, cols = reference.bronze_shape(path)
        if rows != self.ROWS:
            raise RuntimeError(f"bronze holds {rows} rows, wrote {self.ROWS}")
        self.session = {"name": "changes", "rows": rows, "cols": cols,
                        "corpus": self.corpus, "batches": self.feed.staged, "check": True}

    def unit(self, spark, h):
        self.units += 1
        self._script(spark, h, self.session)

    def _script(self, spark, h, ses: dict):
        """One user session of 18 requests, each timed on its own: 15
        authoring requests checked against their scripted (status, rows,
        sorted columns); two incremental ingest cycles of the user's sensor
        source; one corpus-curation run on a sample corpus, the session's
        only request that does real operator work."""
        cat = self.catalog
        name, bronze_rows, bronze_cols = ses["name"], ses["rows"], ses["cols"]
        chain = TransformChain(f"{name}.silver", audit=CodeAudit(self.audit_dir))
        provider = FakeProvider(PROVIDER_SCRIPT)
        st: dict = {}
        sized = sorted(bronze_cols + ["size_change"])

        def context():
            ctx = schema_context(cat.read(spark, "bronze", name))
            st["conv"] = TransformConversation("size_change", provider, schema_ctx=ctx)
            return "ok", len(ctx["sample_rows"]), sorted(f["name"] for f in ctx["schema"])

        def send():
            # The platform dry-runs generated code as soon as it arrives, so
            # one user turn is a provider call plus, for code, a dry-run.
            res = st["conv"].send("add size_change = newlen - oldlen")
            if res.kind != "code":
                return res.kind, 0, []
            dr = st["conv"].run_dry_run(spark, cat.read(spark, "bronze", name))
            return ("ok" if dr.ok else "fail"), len(dr.rows), sorted(
                f["name"] for f in dr.output_schema)

        # Chain edits answer with engine output, as the authoring UI does:
        # a dry-run of the whole chain, or a preview of its result.
        def dry_all(n_steps):
            res = chain.dry_run_all(cat.read(spark, "bronze", name), spark)
            last = list(res.values())[-1]
            ok = len(res) == n_steps and all(r.ok for r in res.values())
            return ok, len(last.rows), sorted(f["name"] for f in last.output_schema)

        def confirm():
            st["conv"].confirm(chain)
            ok, rows, cols = dry_all(1)
            return (st["conv"].status if ok else "fail"), rows, cols

        def add_steps():
            for step, code in CHAIN_STEPS:
                chain.add_step(step, code)
            ok, rows, cols = dry_all(1 + len(CHAIN_STEPS))
            return ("ok" if ok else "fail"), rows, cols

        def reconfirm():
            step = chain.add_step("size_change", SIZE_CODE_V2)
            ok, rows, cols = dry_all(1 + len(CHAIN_STEPS))
            return ("ok" if ok and step.version == 2 else "fail"), rows, cols

        def rollback():
            step = chain.rollback("size_change")
            status, rows, cols = show_chain()
            ok = step.code == SIZE_CODE.strip() and step.version == 3
            return (status if ok else "fail"), rows, cols

        def show_bronze():
            p = preview(cat.read(spark, "bronze", name), 20)
            return "ok", len(p["rows"]), sorted(c["name"] for c in p["schema"])

        def show_chain():
            out, _ = chain.execute(cat.read(spark, "bronze", name), spark)
            p = preview(out, 20)
            return "ok", len(p["rows"]), sorted(c["name"] for c in p["schema"])

        def chain_context():
            out, _ = chain.execute(cat.read(spark, "bronze", name), spark)
            ctx = schema_context(out)
            return "ok", len(ctx["sample_rows"]), sorted(f["name"] for f in ctx["schema"])

        def detect():
            res = detect_records_schema(self.page)
            ok = _types(res) == gen.CHANGE_TYPES
            return ("ok" if ok else "fail"), res.sample_row_count, sorted(_types(res))

        # Most requests are small engine reads (dry-runs, previews, schema
        # context), so the session's median request lands inside that group
        # rather than on the edge between it and the pure-Python turns.
        n10 = min(10, bronze_rows)
        script = [
            ("schema_context", context, ("ok", min(5, bronze_rows), bronze_cols)),
            ("preview_bronze", show_bronze, ("ok", min(20, bronze_rows), bronze_cols)),
            ("send_clarification", send, ("clarification", 0, [])),
            ("send_rejected", send, ("error", 0, [])),
            ("send_code", send, ("ok", n10, sized)),
            ("send_bad_code", send, ("fail", 0, [])),
            ("send_fixed", send, ("ok", n10, sized)),
            ("confirm", confirm, ("confirmed", n10, sized)),
            ("add_steps", add_steps, ("ok", n10, CHAIN_COLUMNS)),
            ("reconfirm", reconfirm, ("ok", n10, CHAIN_COLUMNS)),
            ("rollback", rollback, ("ok", min(20, bronze_rows), CHAIN_COLUMNS)),
            ("preview_chain", show_chain, ("ok", min(20, bronze_rows), CHAIN_COLUMNS)),
            ("chain_context", chain_context, ("ok", min(5, bronze_rows), CHAIN_COLUMNS)),
            ("preview_bronze_again", show_bronze, ("ok", min(20, bronze_rows), bronze_cols)),
            ("detect_records", detect, ("ok", self.PAGE, sorted(gen.CHANGE_TYPES))),
        ]
        for kind, fn, expect in script:
            op, got = h.run(kind, fn)
            op.items = 1
            if op.ok:
                op.check(got == expect, f"{kind}: got {got}, scripted {expect}")

        ep = self.feed.start(spark, f"{name}_sensors")
        for c, staged in enumerate(ses["batches"]):
            before = h.dir_stats(cat.root)
            landed = self.feed.land(ep, staged)
            op, out = h.run("ingest_cycle", self.feed.cycle, spark, h, ep)
            op.items = 1
            if op.ok and ses["check"]:
                self.feed.check(spark, h, op, ep, c, out, landed, before)
        self.feed.finish(ep)

        cur = f"{name}_curation"
        op, out = h.run("run_curation", run_spec, spark, cat,
                        curation_spec(ses["corpus"]["dir"], name=cur))
        op.items = 1
        if op.ok and ses["check"]:
            self._check_funnel(spark, op, cur, ses["corpus"])
        self._drop_pipeline(cur)

    def _check_funnel(self, spark, op, name, corpus):
        got = sorted(tuple(r) for r in self.catalog.read(spark, "gold", name).collect())
        op.check(got == sorted(self.funnel_ref), f"funnel {got} != oracle {self.funnel_ref}")
        d = [r[2] for r in got]  # n_docs per stage, in stage order
        bytes_in = sum(os.path.getsize(f) for f in corpus["files"])
        op.counters.update({
            "operators.docs_in": d[0],
            "operators.exact_dups": d[1] - d[2],
            "operators.near_dups": d[2] - d[3],
            "operators.survivors": d[5],
            "operators.survivor_ratio": d[5] / d[0],
            "sources.bytes_in": bytes_in,
        })


WORKLOADS = {w.name: w for w in (BatchMedallion, InteractiveAuthoring)}
