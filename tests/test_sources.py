"""Sources: file discovery/union, REST pagination + data_key, JDBC options."""

from __future__ import annotations

import json

import pytest

from autonomus_datapipeline_spark.sources import (
    FileSource,
    RestSource,
    discover_files,
    jdbc_reader_options,
)
from autonomus_datapipeline_spark.sources.rest import extract_data_key


# -- files ---------------------------------------------------------------------


def _write_csv(path, header, rows):
    path.write_text("\n".join([header] + rows) + "\n")


def test_discover_files_one_level(tmp_path):
    _write_csv(tmp_path / "b.csv", "x", ["1"])
    _write_csv(tmp_path / "a.csv", "x", ["2"])
    sub = tmp_path / "nested"
    sub.mkdir()
    _write_csv(sub / "c.csv", "x", ["3"])
    (tmp_path / "ignore.txt").write_text("nope")
    files = discover_files(str(tmp_path), "csv")
    assert [f.rsplit("/", 1)[1] for f in files] == ["a.csv", "b.csv", "c.csv"]


def test_file_source_multi_csv(spark, tmp_path):
    _write_csv(tmp_path / "a.csv", "id,name", ["1,alpha", "2,beta"])
    _write_csv(tmp_path / "b.csv", "id,name", ["3,gamma"])
    df = FileSource(str(tmp_path), "csv").read(spark)
    assert df.count() == 3
    assert set(df.columns) == {"id", "name"}


def test_file_source_schema_drift_union(spark, tmp_path):
    _write_csv(tmp_path / "a.csv", "id,name", ["1,alpha"])
    _write_csv(tmp_path / "b.csv", "id,extra", ["2,zzz"])
    df = FileSource(str(tmp_path), "csv").read(spark, allow_schema_drift=True)
    assert set(df.columns) == {"id", "name", "extra"}
    assert df.count() == 2
    assert df.filter("name IS NULL").count() == 1


def test_file_source_jsonl(spark, tmp_path):
    p = tmp_path / "data.jsonl"
    p.write_text("\n".join(json.dumps({"k": i, "v": f"s{i}"}) for i in range(5)))
    df = FileSource(str(p), "json").read(spark)
    assert df.count() == 5


def test_file_source_orc(spark, tmp_path):
    src = tmp_path / "orc_data"
    spark.range(6).selectExpr("id", "id * 3 AS v").write.orc(str(src))
    df = FileSource(str(src), "orc").read(spark)
    assert df.count() == 6
    assert set(df.columns) == {"id", "v"}


def test_file_source_orc_drift_union(spark, tmp_path):
    spark.range(2).selectExpr("id", "id AS a").coalesce(1).write.orc(
        str(tmp_path / "one")
    )
    spark.range(2).selectExpr("id", "id AS b").coalesce(1).write.orc(
        str(tmp_path / "two")
    )
    import glob as _glob

    files = sorted(
        _glob.glob(str(tmp_path / "*" / "*.orc"))
    )
    df = FileSource(str(tmp_path), "orc", files=files).read(
        spark, allow_schema_drift=True
    )
    assert set(df.columns) == {"id", "a", "b"}
    assert df.count() == 4


def test_file_source_xml_roundtrip(spark, tmp_path):
    src = tmp_path / "xml_data"
    (
        spark.range(4)
        .selectExpr("id", "concat('n', id) AS name")
        .coalesce(1)
        .write.format("xml")
        .option("rootTag", "rows")
        .option("rowTag", "row")
        .save(str(src))
    )
    df = FileSource(str(src), "xml").read(spark)
    assert df.count() == 4
    assert set(df.columns) == {"id", "name"}


# -- rest ------------------------------------------------------------------------


def test_extract_data_key_paths():
    payload = {"query": {"recentchanges": [{"a": 1}, {"a": 2}]}}
    assert extract_data_key(payload, "query.recentchanges") == [{"a": 1}, {"a": 2}]
    nested = {"data": [{"items": [{"x": 1}]}]}
    assert extract_data_key(nested, "data[0].items") == [{"x": 1}]
    assert extract_data_key([{"a": 1}], None) == [{"a": 1}]
    with pytest.raises(ValueError):
        extract_data_key({"a": {"b": 1}}, "a.b")


def test_rest_source_pagination_and_auth(spark):
    calls = []

    def fake_fetch(url, method, params, headers, auth, body):
        calls.append((params.get("page"), headers.get("Authorization")))
        page = params["page"]
        n = 3 if page < 3 else 1  # last page short → stop
        return {
            "data": [{"id": (page - 1) * 3 + i, "v": f"p{page}"} for i in range(n)]
        }

    src = RestSource(
        url="https://api.example.test/items",
        data_key="data",
        page_param="page",
        page_size=3,
        auth_type="bearer",
        auth_password_or_token="tok123",
        fetch_fn=fake_fetch,
    )
    records = src.fetch_records()
    assert len(records) == 7  # 3 + 3 + 1
    assert calls[0] == (1, "Bearer tok123")
    assert [c[0] for c in calls] == [1, 2, 3]

    df = src.read(spark)
    assert df.count() == 7


def test_rest_source_single_page_no_pagination():
    src = RestSource(
        url="u", fetch_fn=lambda *a: [{"x": 1}], data_key=None
    )
    assert src.fetch_records() == [{"x": 1}]


# -- jdbc --------------------------------------------------------------------------


def test_jdbc_options_partitioned():
    opts = jdbc_reader_options(
        url="jdbc:postgresql://h/db",
        table="t",
        user="u",
        password="p",
        partition_column="id",
        lower_bound=0,
        upper_bound=1000,
        num_partitions=16,
    )
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"


def test_jdbc_options_validation():
    with pytest.raises(ValueError):
        jdbc_reader_options(url="u")  # neither table nor query
    with pytest.raises(ValueError):
        jdbc_reader_options(url="u", table="t", query="q")
    with pytest.raises(ValueError):
        jdbc_reader_options(url="u", query="q", partition_column="id")
    with pytest.raises(ValueError):
        jdbc_reader_options(url="u", table="t", partition_column="id")


# -- file-level schema detection ---------------------------------------------------


def test_detect_file_schema(spark, tmp_path):
    from autonomus_datapipeline_spark.inference.detect import detect_file_schema

    _write_csv(tmp_path / "a.csv", "id,amount,flag,when",
               ['1,"1,234",yes,2024-01-15', '2,"5,000",no,2024-02-20',
                "3,17,y,2024-03-01"])
    _write_csv(tmp_path / "b.csv", "id,amount,flag,when", ["4,99,n,2024-04-01"])
    _write_csv(tmp_path / "drifted.csv", "id,other", ["5,x"])
    res = detect_file_schema(spark, FileSource(str(tmp_path), "csv"))
    types = {f.name: f.detected_type for f in res.fields}
    assert types == {"id": "integer", "amount": "integer",
                     "flag": "boolean", "when": "date"}
    assert len(res.compatible_files) == 2
    assert res.incompatible_files[0]["file"].endswith("drifted.csv")
    assert 0 < res.confidence < 1


def test_detect_file_schema_reads_each_file_once(spark, tmp_path):
    # One header read per CSV file plus the first file's sample collect:
    # N+1 Spark jobs for N files, all in the caller's job group even though
    # the reads run on pool threads.
    from autonomus_datapipeline_spark.inference.detect import detect_file_schema

    n = 4
    for i in range(n):
        _write_csv(tmp_path / f"f{i}.csv", "id,amount", [f"{i},{i * 10}", "7,8"])
    sc = spark.sparkContext
    group = "test-detect-file-schema-jobs"
    sc.setJobGroup(group, "detect_file_schema job count")
    try:
        res = detect_file_schema(spark, FileSource(str(tmp_path), "csv"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == n + 1
    assert len(res.compatible_files) == n
    assert res.sample_row_count == 2


def test_detect_records_schema():
    from autonomus_datapipeline_spark.inference.detect import detect_records_schema

    res = detect_records_schema(
        [{"a": 1, "b": "x"}, {"a": 2, "b": "y", "c": True}]
    )
    types = {f.name: f.detected_type for f in res.fields}
    assert types == {"a": "integer", "b": "string", "c": "boolean"}
    assert res.sample_row_count == 2


# -- per-file ingestion accounting ----------------------------------------------


def test_ingest_files_skips_bad(spark, tmp_path):
    from autonomus_datapipeline_spark.catalog import Catalog
    from autonomus_datapipeline_spark.engine import Pipeline

    src = tmp_path / "in"
    src.mkdir()
    _write_csv(src / "good1.csv", "x,y", ["1,2", "3,4"])
    _write_csv(src / "good2.csv", "x,y", ["5,6"])
    bad = src / "bad.parquet"
    bad.write_bytes(b"not a parquet file")

    pipe = Pipeline(spark, Catalog(str(tmp_path / "wh")), "acct")
    # parquet source pointed at a dir with one corrupt file: skipped, not fatal
    result, reports = pipe.ingest_files(
        FileSource(str(src), "csv")
    )
    assert result.row_count == 3
    assert all(r["status"] == "ok" for r in reports)

    from autonomus_datapipeline_spark.sources import FileSource as FS
    import pytest as _pytest
    pipe2 = Pipeline(spark, Catalog(str(tmp_path / "wh2")), "acct2")
    with _pytest.raises(FileNotFoundError):
        pipe2.ingest_files(FS(str(src), "parquet"))  # only the corrupt parquet


def test_rest_cache_ttl(tmp_path):
    calls = []

    def fake_fetch(url, method, params, headers, auth, body):
        calls.append(1)
        return {"data": [{"x": 1}]}

    src = RestSource(
        url="u", data_key="data", fetch_fn=fake_fetch,
        cache_dir=str(tmp_path / "cache"), cache_ttl_s=3600,
    )
    assert src.fetch_records() == [{"x": 1}]
    assert src.fetch_records() == [{"x": 1}]  # served from cache
    assert len(calls) == 1
    src.cache_ttl_s = 0  # expired → refetch
    assert src.fetch_records() == [{"x": 1}]
    assert len(calls) == 2


def test_rest_cache_key_includes_body_and_auth(tmp_path):
    # Two POSTs with different bodies — or the same request under different
    # credentials — must not serve each other's cached payloads.
    def make_fetch(tag, calls):
        def fetch(url, method, params, headers, auth, body):
            calls.append(1)
            return {"data": [{"who": tag}]}
        return fetch

    cache = str(tmp_path / "cache")
    calls_a, calls_b, calls_c = [], [], []
    a = RestSource(url="u", method="POST", body={"q": 1}, data_key="data",
                   fetch_fn=make_fetch("a", calls_a), cache_dir=cache)
    b = RestSource(url="u", method="POST", body={"q": 2}, data_key="data",
                   fetch_fn=make_fetch("b", calls_b), cache_dir=cache)
    c = RestSource(url="u", method="POST", body={"q": 1}, data_key="data",
                   auth_type="bearer", auth_password_or_token="tok-c",
                   fetch_fn=make_fetch("c", calls_c), cache_dir=cache)
    assert a.fetch_records() == [{"who": "a"}]
    assert b.fetch_records() == [{"who": "b"}]     # different body → own entry
    assert c.fetch_records() == [{"who": "c"}]     # different auth → own entry
    assert len(calls_a) == len(calls_b) == len(calls_c) == 1
    assert a.fetch_records() == [{"who": "a"}]     # still cached per-identity
    assert len(calls_a) == 1


def test_binary_file_source_feeds_multimodal_decode(spark, tmp_path):
    from autonomus_datapipeline_spark.operators import multimodal
    from autonomus_datapipeline_spark.sources.files import read_binary_files

    blob_dir = tmp_path / "blobs"
    blob_dir.mkdir()
    payloads = {f"img_{i}.bin": bytes([i] * (10 + i)) for i in range(4)}
    for fname, data in payloads.items():
        (blob_dir / fname).write_bytes(data)

    from pyspark.sql import functions as F

    df = read_binary_files(spark, str(blob_dir), "*.bin")
    assert df.count() == 4
    assert {"path", "content", "length"} <= set(df.columns)

    # end-to-end: binary scan -> mapInPandas fake decode
    import hashlib

    with_ids = df.select(
        F.monotonically_increasing_id().alias("doc_id"),
        F.col("content").alias("payload"),
    )
    feats = multimodal.decode_features(with_ids, "doc_id", "payload", use_fake=True)
    got = {r.payload_md5 for r in feats.collect()}
    want = {hashlib.md5(d).hexdigest() for d in payloads.values()}
    assert got == want


def test_text_corpus_wholetext(spark, tmp_path):
    from autonomus_datapipeline_spark.sources.files import read_text_corpus

    corpus = tmp_path / "docs"
    corpus.mkdir()
    (corpus / "a.txt").write_text("alpha beta\ngamma")
    (corpus / "b.txt").write_text("delta")
    df = read_text_corpus(spark, str(corpus))
    rows = {r.doc_path.rsplit("/", 1)[1]: r.text for r in df.collect()}
    assert rows == {"a.txt": "alpha beta\ngamma", "b.txt": "delta"}


# -- jdbc: LIVE round-trip against embedded Derby ---------------------------------
#
# The sandbox has no Postgres, but the Derby jars SHIP WITH Spark
# (pyspark/jars/derby-*.jar), so the real JDBC read/write path — executor-side
# INSERTs, mode mapping, partitioned parallel reads — runs live against an
# embedded on-disk database. This closes the reference-parity gap for the
# Postgres Gold export (reference gold_service.py:168-254): same Spark code,
# different URL in production.


def test_jdbc_live_roundtrip_modes(spark, tmp_path):
    from autonomus_datapipeline_spark.sources.jdbc import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")

    write_jdbc(df, url, "gold_t", mode="replace")
    # Derby uppercases unquoted identifiers; compare case-insensitively.
    back = read_jdbc(spark, url=url, table="gold_t")
    assert sorted(r[0] for r in back.select(back.columns[0]).collect()) == [1, 2]

    # append adds rows
    write_jdbc(df, url, "gold_t", mode="append")
    assert read_jdbc(spark, url=url, table="gold_t").count() == 4

    # replace overwrites
    write_jdbc(df, url, "gold_t", mode="replace")
    assert read_jdbc(spark, url=url, table="gold_t").count() == 2

    # fail refuses to touch an existing table
    import pytest as _pytest

    with _pytest.raises(Exception):
        write_jdbc(df, url, "gold_t", mode="fail")
    assert read_jdbc(spark, url=url, table="gold_t").count() == 2


def test_jdbc_live_partitioned_parallel_read(spark, tmp_path):
    from autonomus_datapipeline_spark.sources.jdbc import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/db2;create=true"
    df = spark.range(0, 100).selectExpr("id", "id * 2 as doubled")
    write_jdbc(df, url, "big_t", mode="replace")

    back = read_jdbc(
        spark,
        url=url,
        table="big_t",
        partition_column="id",
        lower_bound=0,
        upper_bound=100,
        num_partitions=4,
    )
    # the ranged read really splits into 4 parallel scans...
    assert back.rdd.getNumPartitions() == 4
    # ...and loses/dupes nothing across the range boundaries
    assert back.count() == 100
    assert back.agg({"doubled": "sum"}).collect()[0][0] == sum(2 * i for i in range(100))


def test_jdbc_live_query_pushdown(spark, tmp_path):
    from autonomus_datapipeline_spark.sources.jdbc import read_jdbc, write_jdbc

    url = f"jdbc:derby:{tmp_path}/db3;create=true"
    df = spark.range(0, 50).selectExpr("id", "id % 5 as grp")
    write_jdbc(df, url, "q_t", mode="replace")
    # Quoted aliases: Spark's column pruning re-quotes names case-sensitively,
    # while Derby uppercases unquoted identifiers — the production pattern for
    # any case-folding backend.
    agg = read_jdbc(
        spark,
        url=url,
        query='select "grp", count(*) as "n" from q_t group by "grp"',
    )
    got = {int(r[0]): int(r[1]) for r in agg.collect()}
    assert got == {g: 10 for g in range(5)}
