"""sources/readers.py: the session's parquet schema memo. A repeated
read of an unchanged table file starts no Spark job; a rewritten file,
a changed parquet conf, a directory and a missing path read as a plain
``spark.read.parquet`` does."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from movies_etl_spark.session import temp_confs
from movies_etl_spark.sources import readers


def _jobs(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def test_repeated_query_build_starts_no_job(spark, sf_dir):
    import __spark_entry__ as m

    build = m.queries()["groupby_count"]
    build(spark, sf_dir)
    before = _jobs(spark)
    build(spark, sf_dir)
    assert _jobs(spark) - before == 0


def test_rewritten_file_misses_the_memo(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert readers.load_table(spark, str(tmp_path), "t").columns == ["a"]
    before = _jobs(spark)
    assert readers.load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert _jobs(spark) == before

    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = readers.load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "y")]


def test_parquet_conf_is_part_of_the_key(spark, tmp_path):
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}),
                   tmp_path / "t.parquet")
    assert readers.load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]
    with temp_confs(spark, {"spark.sql.parquet.binaryAsString": "true"}):
        df = readers.load_table(spark, str(tmp_path), "t")
        assert df.dtypes == [("b", "string")]
    assert readers.load_table(spark, str(tmp_path), "t").dtypes == [("b", "binary")]


def test_missing_path_and_directory(spark, tmp_path):
    with pytest.raises(readers.SourceNotFoundError):
        readers.load_table(spark, str(tmp_path), "absent")

    target = str(tmp_path / "d.parquet")
    spark.createDataFrame([(1,)], "a bigint").write.parquet(target)
    assert readers.load_table(spark, str(tmp_path), "d").collect()[0]["a"] == 1
    # a directory bypasses the memo: files rewritten inside it are seen
    spark.createDataFrame([(2, "z")], "a bigint, b string").write.mode(
        "overwrite").parquet(target)
    rows = readers.load_table(spark, str(tmp_path), "d").collect()
    assert [tuple(r) for r in rows] == [(2, "z")]
