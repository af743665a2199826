"""tables.load reads with a schema built on the driver from the parquet
footer (tables.footer_schema): same schema and rows as Spark's own
inference, without the inference job."""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from file_scraper_spark import tables


def _inferred(spark, sf_dir: str, name: str):
    """The table as Spark infers it, with load's events conversion."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(tables.table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _fingerprint(df):
    """(row count, sum of row hashes): equal for equal row multisets."""
    from pyspark.sql import functions as F

    return df.select(
        F.count(F.lit(1)),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")),
    )


def _load_jobs(spark, sf_dir: str, name: str, group: str):
    """(tables.load's frame, the number of Spark jobs building it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = tables.load(spark, sf_dir, name)
        df.schema  # noqa: B018 — resolve the relation inside the group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _nanos_events(d: str) -> None:
    base = 1_704_067_200_000_000_000  # 2024-01-01, epoch nanos
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(
                [base + 1_999, base + 3_600_000_123_456, None],
                pa.timestamp("ns"),
            ),
            "user_id": pa.array([0, 1, 1], pa.int64()),
            "event_type": ["click", "view", None],
            "value": pa.array([1.5, None, -2.0], pa.float64()),
            "props": ["{}", None, "{}"],
        }),
        os.path.join(d, "events.parquet"),
        version="2.6",
    )


def _spark_written_dir(spark, d: str) -> None:
    """A 3-part Spark-written directory table: INT96 timestamps,
    decimal, struct, array and non-null columns."""
    rows = [
        (i, dt.datetime(2024, 1, 1 + i, 12, 30, 0, 123456),
         f"{i}.25", (i, f"s{i}"), [float(i), None], f"t{i}")
        for i in range(9)
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long not null, ts timestamp, price string, "
        "pair struct<k: int, v: string>, vec array<float>, text string",
    ).selectExpr(
        "doc_id", "ts", "cast(price as decimal(12, 2)) as price", "pair",
        "vec", "text",
    )
    key = "spark.sql.parquet.outputTimestampType"
    old = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        df.repartition(3).write.mode("overwrite").parquet(
            tables.table_path(d, "documents")
        )
    finally:
        spark.conf.set(key, old)


def test_load_matches_inference_without_a_job(spark, smoke_dir, tmp_path):
    """For every fixture directory present, the benchmark's generated
    fixture, a TIMESTAMP(NANOS) events file and a Spark-written
    multi-part directory with INT96: load gives the schema and rows of
    Spark's inferred read, and building the load runs no Spark job."""
    from perfbench import fixture

    bench_dir = str(tmp_path / "bench")
    fixture.generate(bench_dir, 1)
    nanos_dir = str(tmp_path / "nanos")
    os.makedirs(nanos_dir)
    _nanos_events(nanos_dir)
    spark_dir = str(tmp_path / "spark")
    _spark_written_dir(spark, spark_dir)
    assert len(glob.glob(os.path.join(
        tables.table_path(spark_dir, "documents"), "part-*"))) == 3

    cases = [
        (d, n)
        for d in sorted(glob.glob(os.path.join(os.path.dirname(smoke_dir), "sf*")))
        + [bench_dir]
        if os.path.isdir(d)
        for n in tables.TABLE_NAMES
    ]
    cases += [(nanos_dir, "events"), (spark_dir, "documents")]
    for i, (d, name) in enumerate(cases):
        got, jobs = _load_jobs(spark, d, name, f"tables_load_{i}")
        assert jobs == 0, (d, name)
        want = _inferred(spark, d, name)
        assert got.schema == want.schema, (d, name)
        fingerprints = _fingerprint(got).union(_fingerprint(want)).collect()
        assert fingerprints[0] == fingerprints[1], (d, name)

    events = tables.load(spark, nanos_dir, "events")
    ts = dict(events.selectExpr("event_id", "cast(ts as string)").collect())
    assert ts == {
        1: "2024-01-01 00:00:00.000001",
        2: "2024-01-01 01:00:00.000123",
        3: None,
    }
    docs = tables.load(spark, spark_dir, "documents")
    assert dict(docs.dtypes)["ts"] == "timestamp"
    assert dict(docs.dtypes)["price"] == "decimal(12,2)"


def _write(path, **cols) -> str:
    pq.write_table(pa.table(cols), path, version="2.6")
    return str(path)


def test_footer_schema_maps_arrow_types(tmp_path):
    """Spark-free: non-Spark footers map by Arrow type; a directory
    table is read from its first data file; an unmapped type raises
    TypeError naming the path and the column."""
    p = _write(
        tmp_path / "t.parquet",
        i=pa.array([1], pa.int32()),
        l=pa.array([1], pa.int64()),
        f=pa.array([1.0], pa.float32()),
        d=pa.array([1.0], pa.float64()),
        s=pa.array(["a"], pa.string()),
        ms=pa.array([0], pa.timestamp("ms")),
        us=pa.array([0], pa.timestamp("us")),
        ns=pa.array([0], pa.timestamp("ns")),
        v=pa.array([[1.0]], pa.list_(pa.float32())),
    )
    schema = tables.footer_schema(p)
    assert schema.simpleString() == (
        "struct<i:int,l:bigint,f:float,d:double,s:string,ms:timestamp_ntz,"
        "us:timestamp_ntz,ns:bigint,v:array<float>>"
    )
    assert all(f.nullable for f in schema.fields)

    table_dir = tmp_path / "dir.parquet"
    (table_dir / "sub").mkdir(parents=True)
    (table_dir / "_SUCCESS").write_bytes(b"")
    (table_dir / ".part-0.parquet.crc").write_bytes(b"x")
    _write(table_dir / "part-0.parquet", a=pa.array([1], pa.int64()))
    _write(table_dir / "sub" / "part-1.parquet", a=pa.array([1], pa.int32()))
    assert tables.footer_schema(str(table_dir)).simpleString() == "struct<a:bigint>"

    bad = _write(
        tmp_path / "bad.parquet",
        ok=pa.array([1], pa.int64()),
        amount=pa.array([1], pa.decimal128(10, 2)),
    )
    with pytest.raises(TypeError, match=r"bad\.parquet.*'amount'"):
        tables.footer_schema(bad)
