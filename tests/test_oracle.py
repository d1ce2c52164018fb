"""The shared oracle side (``air_quality_etl_pipeline_spark.oracle``):
each failure class ``compare`` reports, ``duck_con`` over a Spark-written
sf dir, and ``scripts/verify_subset.py`` run end to end."""

from __future__ import annotations

import os
import subprocess
import sys

import duckdb
import pytest

from air_quality_etl_pipeline_spark.oracle import TABLES, compare, duck_con

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    yield c
    c.close()


@pytest.fixture(scope="module")
def ab(spark):
    return spark.createDataFrame([(1, "x"), (2, "y")], "a long, b string")


def test_compare_accepts_equal_rows_in_any_order(con, ab):
    sql = "SELECT * FROM (VALUES ('y', 2::BIGINT), ('x', 1::BIGINT)) t(b, a)"
    assert compare(ab, con, sql) is None


def test_compare_reports_column_names(con, ab):
    sql = "SELECT * FROM (VALUES (1::BIGINT, 'x'), (2::BIGINT, 'y')) t(a, c)"
    assert compare(ab, con, sql).startswith("column names differ")


def test_compare_reports_hugeint_sum(spark, con):
    # SUM(BIGINT) is HUGEINT in DuckDB: value-equal, hash-incompatible
    sdf = spark.createDataFrame([(3,)], "s long")
    values = "FROM (VALUES (1::BIGINT), (2::BIGINT)) t(x)"
    failure = compare(sdf, con, f"SELECT SUM(x) AS s {values}")
    assert failure.startswith("hash-incompatible result types")
    assert "decimal128" in failure
    assert compare(sdf, con, f"SELECT CAST(SUM(x) AS BIGINT) AS s {values}") is None


def test_compare_reports_row_count(con, ab):
    sql = "SELECT 1::BIGINT AS a, 'x' AS b"
    assert compare(ab, con, sql) == "row count differs: spark=2 duck=1"


def test_compare_reports_cell_value(con, ab):
    sql = "SELECT * FROM (VALUES (1::BIGINT, 'x'), (2::BIGINT, 'z')) t(a, b)"
    failure = compare(ab, con, sql)
    assert failure.startswith("first mismatches")
    assert "'z'" in failure


def test_duck_con_reads_spark_written_table_dirs(spark, sf_dir, tmp_path):
    """The sf1 layout: Spark writes a table as a directory of part
    files; the other tables here are the single files of *sf_dir*."""
    for t in TABLES[1:]:
        os.symlink(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    spark.read.parquet(f"{sf_dir}/{TABLES[0]}.parquet").repartition(2).write.parquet(
        str(tmp_path / f"{TABLES[0]}.parquet")
    )
    assert (tmp_path / f"{TABLES[0]}.parquet").is_dir()
    want, got = duck_con(sf_dir), duck_con(str(tmp_path))
    for t in TABLES:
        q = f"SELECT COUNT(*) FROM {t}"
        assert got.execute(q).fetchone() == want.execute(q).fetchone(), t


def test_verify_subset_script_matches(sf_dir, tmp_path):
    """The script imports the shared module and drives __spark_entry__;
    run it from a neutral working directory so it cannot rot unseen."""
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "verify_subset.py"),
            "silver_filter_dedup",
            "dedup_exact",
            f"--sf={sf_dir}",
            "--workers=0",
        ],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "RESULT: ALL MATCH" in proc.stdout
