"""I/O surface, DataUrl algebra, config layering, warehouse seam tests."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
from datetime import date

import pytest

from amadou_spark.config import load_config
from amadou_spark.dates import DateInterval
from amadou_spark.io import (
    has_data_for_date,
    read_json,
    read_parquet,
    read_text,
    write_date_partition,
    write_json,
    write_parquet,
)
from amadou_spark.urls import DataUrl
from amadou_spark.warehouse import ParquetWarehouse, WarehouseTable


@pytest.fixture()
def workdir():
    import shutil

    d = tempfile.mkdtemp(prefix="amadou_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


class TestDataUrl:
    def test_slash_composition(self):
        u = DataUrl("/data/raw") / "sub" / "leaf"
        assert str(u) == "/data/raw/sub/leaf"

    def test_date_formatted_path(self):
        # reference: HdfsUrl date paths (HdfsUrl.scala:39-42), formats
        # `raw` = yyyy/MM/dd and `clean` = 'date='yyyy-MM-dd
        d = DateInterval.day(date(2017, 2, 21))
        raw = DataUrl("/data/raw", "%Y/%m/%d") / d
        clean = DataUrl("/data/clean", "date=%Y-%m-%d") / d
        assert str(raw) == "/data/raw/2017/02/21"
        assert str(clean) == "/data/clean/date=2017-02-21"

    def test_default_partition_value(self):
        d = DateInterval.day(date(2017, 2, 21))
        assert str(DataUrl("/x") / d) == "/x/2017-02-21"

    def test_exists(self, spark, workdir):
        assert DataUrl(workdir).exists(spark)
        assert not (DataUrl(workdir) / "nope").exists(spark)


class TestRoundTrips:
    def test_parquet_json_roundtrip(self, spark, workdir):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, s STRING")
        write_parquet(df, f"{workdir}/p")
        write_json(df, f"{workdir}/j")
        assert sorted(
            (r.id, r.s) for r in read_parquet(spark, f"{workdir}/p").collect()
        ) == [(1, "a"), (2, "b")]
        assert read_json(spark, f"{workdir}/j", schema=df.schema).count() == 2

    def test_text_read(self, spark, workdir):
        with open(f"{workdir}/lines.txt", "w") as fh:
            fh.write("første linje\nanden linje\n")
        rows = read_text(spark, f"{workdir}/lines.txt").collect()
        assert [r.value for r in rows] == ["første linje", "anden linje"]

    def test_partitioned_write_and_probe(self, spark, workdir):
        df = spark.createDataFrame([(1,)], "id LONG")
        d = DateInterval.day(date(2024, 5, 1))
        write_date_partition(df, f"{workdir}/t", d)
        assert has_data_for_date(spark, f"{workdir}/t", d)
        assert not has_data_for_date(spark, f"{workdir}/t", d.next())


# Runs in its own interpreter: stopping the shared test session would
# break every later test that uses it.
_RESTART_SCRIPT = """
import json, sys, uuid
sys.path.insert(0, sys.argv[1])
from amadou_spark.catalog import register_tables
from amadou_spark.session import get_spark

sf_dir = sys.argv[2]
conf = {"spark.driver.memory": "1g", "spark.sql.shuffle.partitions": "2"}
spark = get_spark("amadou-restart", master="local[2]", conf=conf)
inferred = {n: df.schema for n, df in register_tables(spark, sf_dir).items()}
spark.stop()
spark = get_spark("amadou-restart", master="local[2]", conf=conf)
sc = spark.sparkContext
tag = "restart-" + uuid.uuid4().hex
sc.addJobTag(tag)
try:
    tables = register_tables(spark, sf_dir)
finally:
    sc.removeJobTag(tag)
jsc = sc._jsc.sc()
jsc.listenerBus().waitUntilEmpty()
jobs = len(jsc.statusTracker().getJobIdsForTag(tag))
differ = sorted(n for n, df in tables.items() if df.schema != inferred[n])
spark.stop()
print(json.dumps({"jobs": jobs, "tables": len(tables), "differ": differ}))
"""


class TestRememberedParquetSchema:
    """io.read_parquet infers a plain file's schema once per file
    version and conf values; everything else reads as Spark reads it."""

    def test_restarted_session_registers_tables_without_jobs(self, sf_dir):
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        proc = subprocess.run(
            [sys.executable, "-c", _RESTART_SCRIPT, repo, sf_dir],
            capture_output=True, text=True, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        got = json.loads(proc.stdout.strip().splitlines()[-1])
        assert got == {"jobs": 0, "tables": 10, "differ": []}

    def test_file_rewritten_in_place_is_inferred_again(self, spark, workdir):
        pa = pytest.importorskip("pyarrow")
        pq = pytest.importorskip("pyarrow.parquet")
        path = f"{workdir}/t.parquet"
        pq.write_table(pa.table({"a": [1, 2]}), path)
        assert read_parquet(spark, path).columns == ["a"]
        pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
        rows = read_parquet(spark, path).orderBy("a").collect()
        assert [tuple(r) for r in rows] == [(1, "x"), (2, "y")]

    def test_schema_is_never_served_under_other_conf_values(self, spark, workdir):
        from pyspark.errors import AnalysisException
        from pyspark.sql import types as T

        from amadou_spark.session import conf_scope

        pa = pytest.importorskip("pyarrow")
        pq = pytest.importorskip("pyarrow.parquet")
        key = "spark.sql.legacy.parquet.nanosAsLong"
        for order in (("true", "false", "true"), ("false", "true", "false")):
            path = f"{workdir}/ns_{order[0]}.parquet"
            pq.write_table(pa.table({"ts": pa.array([1, 2], pa.timestamp("ns"))}), path)
            for value in order:
                with conf_scope(spark, {key: value}):
                    if value == "true":
                        df = read_parquet(spark, path)
                        assert isinstance(df.schema["ts"].dataType, T.LongType)
                        continue
                    with pytest.raises(AnalysisException) as plain:
                        spark.read.parquet(path)
                    with pytest.raises(AnalysisException) as ours:
                        read_parquet(spark, path)
                    assert plain.value.getCondition() == "PARQUET_TYPE_ILLEGAL"
                    assert ours.value.getCondition() == "PARQUET_TYPE_ILLEGAL"

    def test_directory_is_inferred_on_every_read(self, spark, workdir):
        write_parquet(spark.createDataFrame([(1,)], "a LONG"), f"{workdir}/d")
        assert read_parquet(spark, f"{workdir}/d").columns == ["a"]
        write_parquet(spark.createDataFrame([(1, "x")], "a LONG, b STRING"), f"{workdir}/d")
        assert read_parquet(spark, f"{workdir}/d").columns == ["a", "b"]

    def test_missing_path_raises_sparks_error(self, spark, workdir):
        from pyspark.errors import AnalysisException

        with pytest.raises(AnalysisException) as err:
            read_parquet(spark, f"{workdir}/absent.parquet")
        assert err.value.getCondition() == "PATH_NOT_FOUND"


class TestConfig:
    def test_layering_and_spark_conf(self, workdir):
        base = os.path.join(workdir, "app.json")
        with open(base, "w") as fh:
            json.dump({"retry": {"max": 5}, "spark": {"driver": {"memory": "2g"}}}, fh)
        cfg = load_config(base, overrides={"retry.delay_seconds": 0})
        assert cfg["retry.max"] == 5
        assert cfg["retry.delay_seconds"] == 0
        assert cfg.spark_conf()["spark.driver.memory"] == "2g"

    def test_env_layer_wins(self, workdir):
        base = os.path.join(workdir, "app.json")
        with open(base, "w") as fh:
            json.dump({"retry": {"max": 5}}, fh)
        with open(os.path.join(workdir, "app.prod.json"), "w") as fh:
            json.dump({"retry": {"max": 9}}, fh)
        os.environ["DEPLOY_ENVIRONMENT"] = "prod"
        try:
            assert load_config(base)["retry.max"] == 9
        finally:
            del os.environ["DEPLOY_ENVIRONMENT"]


class TestWarehouse:
    def test_query_load_extract_roundtrip(self, spark, workdir):
        wh = ParquetWarehouse(spark, workdir)
        t = WarehouseTable("local", "analytics", "nums")
        df = spark.createDataFrame([(i,) for i in range(10)], "n LONG")
        wh.load(df, t, mode="overwrite")
        assert wh.read(t).count() == 10

        dest = WarehouseTable("local", "analytics", "sums")
        wh.read(t).createOrReplaceTempView("nums")
        out = wh.query("SELECT SUM(n) AS total FROM nums", dest)
        assert out.collect()[0].total == 45
        assert wh.read(dest).collect()[0].total == 45

        wh.extract(t, f"{workdir}/extract_csv")
        assert spark.read.csv(f"{workdir}/extract_csv", header=True).count() == 10

    def test_partition_freshness(self, spark, workdir):
        wh = ParquetWarehouse(spark, workdir)
        t = WarehouseTable("local", "analytics", "daily")
        d = DateInterval.day(date(2024, 5, 1))
        wh.load_partition(spark.createDataFrame([(1,)], "id LONG"), t, d)
        assert wh.has_data_for_date(t, d)
        assert not wh.has_data_for_date(t, d.next())


def test_orc_and_generic_save_roundtrip(spark, workdir):
    from amadou_spark.io import load, read_orc, save, write_orc

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id LONG, s STRING")
    write_orc(df, f"{workdir}/o")
    assert read_orc(spark, f"{workdir}/o").count() == 2
    save(df, f"{workdir}/g", fmt="json")
    assert load(spark, f"{workdir}/g", fmt="json").count() == 2
